package perfbench

/** The 10 golden questions of the reference's test set as textual Cypher —
  * the shapes its Text2Cypher prompt produces (toLower/CONTAINS for
  * strings, CAST for dates, WITH for pipelined aggregation). `toCypher`
  * stands where the LLM generation sits: it maps a question's keywords to
  * one statement, binding the record id the question names.
  */
object Goldens {
  val ids: Seq[String] = (1 to 10).map(i => s"q$i")

  def statement(id: String, patient: Long): String = id match {
    case "q1" =>
      """MATCH (p:Patient)-[:HAS_IMMUNIZATION]->(i:Immunization)
        |WHERE p.surname = 'Rosenbaum'
        |WITH p, count(i) AS n WHERE n > 1
        |RETURN count(*) AS n_patients""".stripMargin
    case "q2" =>
      """MATCH (pr:Practitioner)-[:TREATS]->(p:Patient)
        |WHERE toLower(pr.givenName) CONTAINS toLower('Josef')
        |  AND toLower(pr.surname) CONTAINS toLower('Klein')
        |RETURN DISTINCT p.givenName AS g, p.surname AS s""".stripMargin
    case "q3" =>
      """MATCH (pr:Practitioner)-[:TREATS]->(p:Patient)
        |WHERE pr.givenName = 'Arla' AND pr.surname = 'Fritsch'
        |RETURN count(DISTINCT p) AS n""".stripMargin
    case "q4" =>
      """MATCH (a:Allergy) WHERE a.category IS NOT NULL
        |RETURN DISTINCT a.category AS category""".stripMargin
    case "q5" =>
      """MATCH (p:Patient)
        |WHERE p.birthDate >= CAST('1990-01-01' AS DATE)
        |  AND p.birthDate <= CAST('2000-12-31' AS DATE)
        |RETURN count(*) AS n""".stripMargin
    case "q6" =>
      """MATCH (p:Patient)-[:HAS_IMMUNIZATION]->(i:Immunization)
        |WHERE i.occurrenceDateTime > CAST('2022-01-01' AS TIMESTAMP)
        |RETURN count(*) AS n""".stripMargin
    case "q7" =>
      """MATCH (pr:Practitioner)-[:TREATS]->(p:Patient)
        |WITH pr, count(DISTINCT p) AS n ORDER BY n DESC, pr ASC LIMIT 1
        |RETURN pr.givenName AS g, pr.surname AS s, n""".stripMargin
    case "q8" =>
      s"""MATCH (s:Substance)-[:CAUSES]->(a:Allergy)<-[:EXPERIENCES]-(p:Patient),
         |      (p)-[:LIVES_IN]->(ad:Address), (p)<-[:TREATS]-(pr:Practitioner)
         |WHERE toLower(s.name) CONTAINS toLower('Shellfish') AND p.id = $patient
         |RETURN DISTINCT ad.city, ad.state, pr.givenName, pr.surname""".stripMargin
    case "q9" =>
      """MATCH (p:Patient)-[:HAS_IMMUNIZATION]->(i:Immunization)
        |WHERE toLower(i.traits) CONTAINS toLower('influenza')
        |RETURN count(*) AS n""".stripMargin
    case "q10" =>
      """MATCH (s:Substance)-[:CAUSES]->(a:Allergy)
        |WHERE a.category = 'food'
        |RETURN count(DISTINCT s) AS n""".stripMargin
  }

  /** Keyword → golden id, the template lookup that replaces generation. */
  def route(kws: Seq[String]): String = {
    val k = kws.toSet
    if (k("shellfish")) "q8"
    else if (k("rosenbaum")) "q1"
    else if (k("josef")) "q2"
    else if (k("arla")) "q3"
    else if (k("categories")) "q4"
    else if (k("1990")) "q5"
    else if (k("2022")) "q6"
    else if (k("most")) "q7"
    else if (k("influenza")) "q9"
    else if (k("food")) "q10"
    else sys.error(s"no template for keywords ${kws.mkString(",")}")
  }

  def toCypher(kws: Seq[String]): String = {
    val id = route(kws)
    val patient = if (id == "q8") kws.find(_.forall(_.isDigit)).map(_.toLong).getOrElse(-1L) else -1L
    statement(id, patient)
  }

  /** A result row as `answerMany` renders graph rows: values joined by ", ". */
  def render(row: org.apache.spark.sql.Row): String = row.toSeq.mkString(", ")
}
