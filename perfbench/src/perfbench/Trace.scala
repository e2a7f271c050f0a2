package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.graph.PropertyGraph
import graft.rag.Rag
import graft.search.Embedder

/** Span recorder for the benchmark's client thread. A span is named
  * `<layer>.<call>`; while it is the innermost open span its name is the
  * Spark job group, so [[LayerListener]] can attribute jobs and tasks to
  * it. Spans are kept in memory and read once when the run ends. With
  * `on = false` every method is a pass-through.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  final class Span(val name: String, val setup: Boolean, val start: Long) {
    var end = -1L
    var children = 0L
    def dur: Long = end - start
    def self: Long = dur - children
    def layer: String = name.takeWhile(_ != '.')
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  /** Spans opened while true are set-up spans (job group suffix `@setup`). */
  var inSetup = true

  private def group(s: Span) = if (s.setup) s"${s.name}@setup" else s.name

  def begin(name: String): Unit = if (on) {
    val s = new Span(name, inSetup, System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(group(s), name)
  }

  def end(): Unit = if (on && open.nonEmpty) {
    val s = open.head
    s.end = System.nanoTime()
    open = open.tail
    open.headOption match {
      case Some(p) => p.children += s.dur; sc.setJobGroup(group(p), p.name)
      case None    => sc.clearJobGroup()
    }
  }

  /** Close the innermost span if it is `name` (the graph arm is opened by
    * the retriever wrapper and closed by the next LLM call).
    */
  def endIfOpen(name: String): Unit =
    if (on && open.nonEmpty && open.head.name == name) end()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      begin(name)
      val depth = open.size
      try body finally while (open.size >= depth) end()
    }

  def closed(name: String): Seq[Span] = spans.filter(s => s.name == name && s.end >= 0).toSeq
}

/** Per-job-group Spark counters, fed by the listener bus. */
final class GroupAgg {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val groups = mutable.Map.empty[String, GroupAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      groups.getOrElseUpdate(g, new GroupAgg).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = groups.getOrElseUpdate(g, new GroupAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
}

/** Embedder seam wrapper. Driver-side calls on the client thread become
  * `search.embed` spans; calls inside executor tasks (index build) add
  * their time to `nanos`.
  */
final case class TimedEmbedder(inner: Embedder, nanos: LongAccumulator, timed: Boolean)
    extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] =
    if (!timed) inner.embed(text)
    else if (Thread.currentThread() eq TimedEmbedder.clientThread)
      TimedEmbedder.tracer.span("search.embed")(inner.embed(text))
    else {
      val t0 = System.nanoTime()
      try inner.embed(text) finally nanos.add(System.nanoTime() - t0)
    }
}

object TimedEmbedder {
  @volatile var tracer: Tracer = _
  @volatile var clientThread: Thread = _
}

/** LLM seam wrapper: every call first closes an open graph arm. */
final class TimedLlm(inner: Rag.LlmClient, @transient tracer: Tracer) extends Rag.LlmClient {
  private def call[T](body: => T): T = {
    tracer.endIfOpen("rag.graph_arm")
    tracer.span("rag.llm")(body)
  }
  def pruneSchema(schemaXml: String, question: String): String =
    call(inner.pruneSchema(schemaXml, question))
  def entityKeywords(question: String, schemaXml: String): Seq[String] =
    call(inner.entityKeywords(question, schemaXml))
  def answer(question: String, context: String): String = call(inner.answer(question, context))
  def synthesize(question: String, vectorAnswer: String, graphAnswer: String): String =
    call(inner.synthesize(question, vectorAnswer, graphAnswer))
}

object Seams {
  /** Graph-retriever wrapper: opens the `rag.graph_arm` span (closed by the
    * next LLM call, after `answerMany` has collected the rows) and times
    * the `CypherLite.query` call inside it as `graph.build`.
    */
  def graphRetriever(tracer: Tracer, toCypher: Seq[String] => String)
      : (PropertyGraph, Seq[String]) => DataFrame = {
    val inner = Rag.cypherRetriever(toCypher)
    (g, kws) => {
      tracer.begin("rag.graph_arm")
      tracer.span("graph.build")(inner(g, kws))
    }
  }
}

object Resources {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def persistentRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size
}
