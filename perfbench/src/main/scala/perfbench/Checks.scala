package perfbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import com.fasterxml.jackson.databind.ObjectMapper

/** Output checks. Each returns the list of problems found (empty = pass),
  * so a test can assert that a corrupted output is rejected. */
object Checks {

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The canonical row hash of the oracle gate: columns in
    * case-insensitive name order, floats at four decimals, NULL for
    * nulls, rows sorted, md5 of the newline-joined rows. */
  def canon(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    def cell(v: Any): String = v match {
      case null => "NULL"
      case d: Double => String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
      case f: Float => String.format(java.util.Locale.ROOT, "%.4f", Double.box(f.toDouble))
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
      case r: Row => r.toSeq.map(cell).mkString("{", ", ", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${cell(k)}: ${cell(x)}" }.sorted.mkString("{", ", ", "}")
      case x => x.toString
    }
    md5(rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted.mkString("\n"))
  }

  type Triple = Landing.Triple
  type Node = (String, String)

  /** GraphBuilder's label rule: CamelCase words, empty → Entity. */
  def label(t: String): String = {
    val camel = Option(t).getOrElse("").trim.replace("_", " ").split(" +")
      .map(w => if (w.isEmpty) "" else w.substring(0, 1).toUpperCase + w.substring(1).toLowerCase).mkString
    if (camel.isEmpty) "Entity" else camel
  }

  /** GraphBuilder's relation rule: UPPER_SNAKE, empty → RELATED_TO. */
  def relation(r: String): String = {
    val c = Option(r).getOrElse("").trim.replace("-", "_").replace(" ", "_").toUpperCase
    if (c.isEmpty) "RELATED_TO" else c
  }

  private def present(s: String) = s != null && s.trim.nonEmpty

  /** MERGE semantics over a triple multiset: typed nodes and weighted edges. */
  def expectedGraph(triples: Seq[Triple]): (Set[Node], Map[(String, String, String, String, String), Long]) = {
    val nodes = triples.flatMap { case (s, st, _, o, ot) =>
      (if (present(s)) Seq(label(st) -> s) else Nil) ++ (if (present(o)) Seq(label(ot) -> o) else Nil)
    }.toSet
    val edges = triples.collect {
      case (s, st, r, o, ot) if present(s) && present(o) => (label(st), s, relation(r), label(ot), o)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    (nodes, edges)
  }

  private val mapper = new ObjectMapper()

  /** kg_pipeline: the record count and the RDF-branch triples. */
  def kgTriples(records: Long, expectedRecords: Int, triples: Seq[Triple],
      expectedRdf: Seq[Triple]): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    if (records != expectedRecords) problems += s"record count $records != $expectedRecords"
    val rdf = triples.filter(_._2 == "entity")
    def hash(ts: Seq[Triple]) = md5(ts.map(_.productIterator.mkString("\u0001")).sorted.mkString("\n"))
    if (hash(rdf) != hash(expectedRdf))
      problems += s"RDF-branch triples differ: ${rdf.size} rows vs ${expectedRdf.size} expected"
    problems.toSeq
  }

  /** kg_pipeline: the node set and the upsert batches against the graph
    * the triples imply. */
  def kgGraph(want: (Set[Node], Map[(String, String, String, String, String), Long]),
      nodes: Seq[Node], batches: Seq[String]): Seq[String] = {
    val (wantNodes, wantEdges) = want
    val problems = mutable.ArrayBuffer.empty[String]
    val nodeSet = nodes.toSet
    if (nodeSet.size != nodes.size) problems += s"node frame has ${nodes.size - nodeSet.size} duplicate rows"
    if (nodeSet != wantNodes) problems += s"node set differs: ${nodeSet.size} vs ${wantNodes.size} expected"
    val rows = batches.map(b => mapper.readTree(b))
    rows.zipWithIndex.foreach { case (a, i) =>
      if (a.size > 500) problems += s"upsert batch $i holds ${a.size} rows (> 500)"
    }
    val sent = rows.flatMap(a => (0 until a.size).map(a.get)).map { r =>
      (r.get("src_label").asText, r.get("src").asText, r.get("rel").asText,
        r.get("dst_label").asText, r.get("dst").asText, r.get("weight").asLong)
    }
    if (sent.size != wantEdges.size) problems += s"upsert rows ${sent.size} != ${wantEdges.size} edges"
    if (sent.map(e => (e._1, e._2, e._3, e._4, e._5) -> e._6).toMap != wantEdges)
      problems += "upsert rows differ from the edge set"
    val orphans = sent.count(e => !nodeSet((e._1, e._2)) || !nodeSet((e._4, e._5)))
    if (orphans > 0) problems += s"$orphans edges have an endpoint outside the node set"
    problems.toSeq
  }

  /** The upsert batches' own row counts must match their payloads. */
  def batchCounts(nRows: Seq[Long], batches: Seq[String]): Seq[String] = {
    val sizes = batches.map(b => mapper.readTree(b).size.toLong)
    if (nRows.sorted != sizes.sorted) Seq(s"n_rows ${nRows.sum} do not match payload rows ${sizes.sum}")
    else Nil
  }

  /** llm_extract: the recovered triple set equals the records' own. */
  def llmTriples(pass: String, got: Seq[Triple], want: Set[Triple]): Seq[String] = {
    val g = got.toSet
    if (g == want) Nil
    else Seq(s"$pass pass: ${(want -- g).size} triples missing, ${(g -- want).size} unexpected")
  }

  /** operator_mix: a face's row count and canonical hash. */
  def face(name: String, rows: Long, hash: String, expected: Option[(Long, String)]): Seq[String] =
    expected match {
      case None => Seq(s"$name: no recorded expectation")
      case Some((r, h)) if r != rows || h != hash => Seq(s"$name: $rows rows / $hash, expected $r rows / $h")
      case _ => Nil
    }
}
