package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Extraction
import graft.fhir.FhirPipeline
import graft.graph.{CypherLite, PropertyGraph}
import graft.pipeline.Curation
import graft.rag.Rag
import graft.search.HashEmbedder

/** State shared by a run: session, tracer, planted answers, tallies. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val exp: JsonNode,
    val work: String) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap.empty[String, Int]
  /** Items per second of each timed call; throughput is their median,
    * which one slow call (a JIT or GC stall) does not move.
    */
  val rates = mutable.ArrayBuffer.empty[Double]
  /** Latencies in ms per kind of operation (each golden statement is a
    * kind of its own): op_p50_ms averages the kinds' medians, so a shift
    * in where the pooled median falls between statements cannot move it.
    */
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def latency(kind: String, ms: Double): Unit =
    latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  /** Most persistent RDDs one `cleanCorpus` call left behind. */
  var leakedRdds = 0
  val embedNanos = spark.sparkContext.longAccumulator("perfbench.embed")
  val embedder = TimedEmbedder(HashEmbedder(), embedNanos, tracer.on)
  val out = s"$work/out"

  /** One operation: run it, then its checks; a throw or any failing check
    * counts the operation as failed. `name` labels failures on stderr.
    */
  def op(name: String)(body: => Seq[(String, Boolean)]): Unit = {
    attempted += 1
    val bad =
      try body.collect { case (check, false) => s"$name: $check" }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name threw: $e"); Seq(s"$name: threw ${e.getClass.getSimpleName}")
      }
    if (bad.nonEmpty) {
      failed += 1
      bad.foreach(b => failures(b) = failures.getOrElse(b, 0) + 1)
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def check[T](body: => T): T = tracer.span("bench.check")(body)

  def lines(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  val edgeMeta: Map[String, (String, String)] = Map(
    "LIVES_IN" -> ("Patient" -> "Address"), "TREATS" -> ("Practitioner" -> "Patient"),
    "EXPERIENCES" -> ("Patient" -> "Allergy"), "CAUSES" -> ("Substance" -> "Allergy"),
    "HAS_IMMUNIZATION" -> ("Patient" -> "Immunization"))

  def readGraph(dir: String): PropertyGraph =
    tracer.span("fhir.read_graph")(FhirPipeline.readGraph(spark, dir, edgeMeta))

  /** Node and edge counts of a graph against the planted counts. */
  def countChecks(g: PropertyGraph, counts: JsonNode): Seq[(String, Boolean)] = check {
    val want = for {
      kind <- Seq("nodes", "edges")
      e <- counts.get(kind).fields().asScala.toSeq
      df = if (kind == "nodes") g.nodes(e.getKey) else g.edges(e.getKey)._3
    } yield (s"$kind ${e.getKey}", df, e.getValue.asLong)
    val got = totals(want.map { case (k, df, _) => (k, df, None) })
    want.map { case (k, _, n) => k -> (got(k)._1 == n) }
  }

  /** Row count and, where a column is named, its sum, of several frames
    * in one Spark job.
    */
  def totals(parts: Seq[(String, DataFrame, Option[String])]): Map[String, (Long, Long)] =
    parts.map { case (k, df, c) =>
      df.agg(count(lit(1)).as("n"), c.fold(lit(0L))(x => coalesce(sum(x), lit(0L))).as("s"))
        .select(lit(k).as("k"), col("n"), col("s").cast("long").as("s"))
    }.reduce(_ union _).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** One golden statement through CypherLite: build, plan, collect. */
  def golden(g: PropertyGraph, id: String, expected: JsonNode): Unit = op(s"cypher $id") {
    val stmt = Goldens.statement(id, exp.get("q8_patient").asLong)
    val t0 = System.nanoTime()
    val df = tracer.span("graph.build")(CypherLite.query(g, stmt))
    tracer.span("graph.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("graph.exec")(df.collect())
    latency(id, (System.nanoTime() - t0) / 1e6)
    check(Seq("answer" -> (rows.map(Goldens.render).sorted.toSeq == lines(expected.get(id)))))
  }

  /** A corpus index against the generator's token counts: one postings
    * row per distinct (term, doc), term frequencies and doc lengths both
    * summing to the corpus token count, and statistics that agree.
    */
  def indexChecks(index: Rag.CorpusIndex, n: Long): Seq[(String, Boolean)] = check {
    val tokens = exp.get("index").get("tokens").asLong
    val st = index.stats.collect()
    val t = totals(Seq(("docs", index.docs, None), ("vecs", index.vecs, None),
      ("post", index.post, Some("tf")), ("doclen", index.docLen, Some("dl"))))
    Seq(
      "index docs" -> (t("docs")._1 == n),
      "index vecs" -> (t("vecs")._1 == n),
      "index postings" -> (t("post")._1 == exp.get("index").get("postings").asLong),
      "index tf" -> (t("post")._2 == tokens),
      "index doclen" -> (t("doclen") == (n, tokens)),
      "index stats" -> (st.length == 1 && st(0).getAs[Long]("n_docs") == n &&
        math.abs(st(0).getAs[Double]("avgdl") * n / tokens - 1) < 1e-9))
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }
}

/** One workload: a repeatable set-up, a loop step, and checks run once
  * after the timed loop on what set-up or the last step wrote.
  */
abstract class Workload(val c: Ctx) {
  def prepare(): Unit
  def step(): Unit
  def verify(): Unit = ()
}

object Workload {
  val extractFields: Seq[(String, String)] = Seq("prefix", "gender", "birthDate", "phone",
    "email", "maritalStatus", "primaryLanguage").map(f => f -> f)

  def apply(name: String, c: Ctx): Workload = name match {
    case "ingest" => new Ingest(c)
    case "rag"    => new RagLoop(c)
    case "curate" => new Curate(c)
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Gold side of the field-accuracy eval: the generated records. */
  def gold(spark: SparkSession, records: String): DataFrame =
    FhirPipeline.load(spark, records).select(col("record_id"), col("name.prefix").as("prefix"),
      col("gender"), col("birthDate"), col("phone"), col("email"), col("maritalStatus"),
      col("primaryLanguage"))

  def docs(notes: org.apache.spark.sql.Dataset[_]): DataFrame =
    notes.select(col("record_id").as("doc_id"), col("note").as("text"))
}

/** Offline stages 1-3 and 5: extract, graph build+write, index
  * build+save, field-accuracy eval — one whole ingest per step. Each step
  * checks its field-accuracy counts; the graph and index every step writes
  * over the last are checked once, after the loop (the checks' Spark jobs
  * cost about a quarter of a step).
  */
final class Ingest(c: Ctx) extends Workload(c) {
  import c._
  private val n = exp.get("records").asLong

  def prepare(): Unit = {
    deleteTree(out)
    tracer.span("bench.load")(Extraction.loadNotes(spark, s"$work/notes.json").count())
  }

  def step(): Unit = op("ingest") {
    val notes = Extraction.loadNotes(spark, s"$work/notes.json")
    val (fa, sec) = timed {
      tracer.span("extract.run") {
        Extraction.run(notes, Extraction.RuleBasedExtractor)
          .write.mode("overwrite").parquet(s"$out/extracted")
      }
      tracer.span("fhir.build_write") {
        FhirPipeline.writeGraph(
          FhirPipeline.buildGraph(FhirPipeline.load(spark, s"$work/records.json")), s"$out/graph")
      }
      tracer.span("search.index_build") {
        Rag.CorpusIndex.save(Rag.CorpusIndex.build(spark, Workload.docs(notes), embedder),
          s"$out/index")
      }
      tracer.span("eval.field_accuracy") {
        Extraction.fieldAccuracy(spark.read.parquet(s"$out/extracted"),
          Workload.gold(spark, s"$work/records.json"), Workload.extractFields).collect()
      }
    }
    rates += n / sec
    latency("ingest", sec * 1e3)
    val want = exp.get("field_matches")
    val got = fa.map(r => r.getString(0) -> r.getLong(1)).toMap
    val fieldChecks = Workload.extractFields.map { case (f, _) =>
      s"field $f" -> (got.get(f).contains(want.get(f).asLong) && fa.forall(_.getLong(2) == n))
    }
    fieldChecks
  }

  override def verify(): Unit = op("ingest outputs") {
    countChecks(check(FhirPipeline.readGraph(spark, s"$out/graph", edgeMeta)), exp.get("counts")) ++
      indexChecks(check(Rag.CorpusIndex.load(spark, s"$out/index")), n)
  }
}

/** Paper stage 4: batches of 10 questions through `answerMany` with the
  * textual Text2Cypher retriever, then each golden statement on its own,
  * over a graph and index prebuilt in set-up.
  */
final class RagLoop(c: Ctx) extends Workload(c) {
  import c._
  private var graph: PropertyGraph = _
  private var index: Rag.CorpusIndex = _
  private val questions = lines(exp.get("questions"))
  /** Per question, the notes holding one of its keywords; one of the two
    * fused documents must be among them (see gen.retrieval_sets).
    */
  private val hits = exp.get("retrieval").elements().asScala
    .map(_.elements().asScala.map(_.asLong).toSet).toIndexedSeq
  private val recordId = """\(record (\d+)\)""".r
  private val llm = new TimedLlm(Rag.DeterministicLlm, tracer)
  private val retriever = Seams.graphRetriever(tracer, Goldens.toCypher)

  def prepare(): Unit = {
    deleteTree(out)
    val notes = Extraction.loadNotes(spark, s"$work/notes.json")
    tracer.span("fhir.build_write") {
      FhirPipeline.writeGraph(
        FhirPipeline.buildGraph(FhirPipeline.load(spark, s"$work/records.json")), s"$out/graph")
    }
    tracer.span("search.index_build") {
      Rag.CorpusIndex.save(Rag.CorpusIndex.build(spark, Workload.docs(notes), embedder),
        s"$out/index")
    }
    graph = readGraph(s"$out/graph")
    index = tracer.span("search.index_load")(Rag.CorpusIndex.load(spark, s"$out/index"))
  }

  def step(): Unit = {
    op("answerMany") {
      val (res, sec) = timed(tracer.span("rag.answer_many") {
        Rag.answerMany(spark, questions, graph, index, embedder, retriever, llm)
      })
      rates += questions.size / sec
      check {
        ("batch size" -> (res.size == questions.size)) +: res.zip(hits).flatMap { case (r, want) =>
          val id = Goldens.route(r.keywords)
          val docs = r.vectorAnswer.split("\n---\n").toSeq
            .flatMap(t => recordId.findFirstMatchIn(t).map(_.group(1).toLong))
          Seq(
            s"graph arm $id" ->
              (r.graphAnswer.split("\n").sorted.toSeq == lines(exp.get("goldens").get(id))),
            s"vector arm $id" -> (docs.size == 2 && (want.isEmpty || docs.exists(want))))
        }
      }
    }
    Goldens.ids.foreach(golden(graph, _, exp.get("goldens")))
  }

  override def verify(): Unit = op("prebuilt graph and index") {
    countChecks(graph, exp.get("counts")) ++ indexChecks(index, exp.get("records").asLong)
  }
}

/** `Curation.cleanCorpus` over generated notes with planted exact and
  * near duplicates, filtered-out documents and an overlapping eval set.
  */
final class Curate(c: Ctx) extends Workload(c) {
  import c._
  private val schema = "doc_id BIGINT, text STRING"
  private var docs: DataFrame = _
  private var evalDocs: DataFrame = _
  private val want = exp.get("survivors").elements().asScala.map(_.asLong).toSet
  private val removed = exp.get("removed")

  def prepare(): Unit = tracer.span("bench.load") {
    docs = graft.core.IO.readJsonArray(spark, s"$work/curate_docs.json",
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    evalDocs = graft.core.IO.readJsonArray(spark, s"$work/eval_docs.json",
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    docs.count() + evalDocs.count()
  }

  def step(): Unit = op("cleanCorpus") {
    val before = Resources.persistentRdds(spark)
    val (ids, sec) = timed(tracer.span("dedup.clean_corpus") {
      Curation.cleanCorpus(docs, "doc_id", "text", Seq("en"), exp.get("shingle_k").asInt,
        exp.get("min_jaccard").asDouble, eval = Some(evalDocs), minCommon = exp.get("min_common").asLong)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    })
    leakedRdds = leakedRdds max (Resources.persistentRdds(spark) - before)
    rates += exp.get("docs").asLong / sec
    latency("cleanCorpus", sec * 1e3)
    def kind(id: Long) = Option(removed.get(id.toString)).map(_.asText).getOrElse("survivor")
    val kept = (ids -- want).toSeq.map(kind).groupBy(identity).keys.map(k => s"kept $k" -> false)
    val lost = (want -- ids).toSeq.map(kind).groupBy(identity).keys.map(k => s"dropped $k" -> false)
    (("survivors" -> (ids == want)) +: kept.toSeq) ++ lost
  }
}
