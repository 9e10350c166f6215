package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.LlmChains

/** The benchmark's own pieces: the input generator, the modeled LLM and
  * the output checks. */
class BenchPiecesSpec extends AnyFunSuite {

  private val scale = Landing.Scale(customers = 40, suppliers = 5, parts = 60, docs = 30, files = 3)

  private def files(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  private def generated(seed: Long): (Landing.Written, Map[String, Seq[Byte]]) = {
    val dir = Files.createTempDirectory("landing")
    try { val w = Landing.generate(dir.resolve("in"), seed, scale); (w, files(w.dir)) }
    finally Main.deleteTree(dir)
  }

  test("the landing generator writes the same bytes for the same seed") {
    val (a, fa) = generated(7)
    val (b, fb) = generated(7)
    val (_, fc) = generated(8)
    assert(fa.keySet == Set("customers.csv", "suppliers.tsv", "parts.json",
      "collection_000.xml", "collection_001.xml", "collection_002.xml"))
    assert(fa == fb)
    assert(a.rdfTriples == b.rdfTriples && a.records == scale.records)
    assert(fa != fc)
  }

  test("the landing RDF covers the fallback chain, hexBinary, xml:lang and years") {
    val (w, fs) = generated(3)
    val xml = fs.collect { case (n, b) if n.endsWith(".xml") => new String(b.toArray, "UTF-8") }.mkString
    Seq("skos:altLabel", "rdfs:label", "dcterms:title", "XMLSchema#hexBinary", "xml:lang=", "dc:date")
      .foreach(tag => assert(xml.contains(tag), tag))
    assert(w.rdfTriples.exists(_._5 == "Year"))
    assert(w.rdfTriples.map(_._3).toSet.subsetOf(
      Set("preflabel", "altlabel", "note", "isrelatedto", "sameas", "creator", "depicts")))
  }

  private val records: Seq[Map[String, String]] = (0 until 70).map { i =>
    val base = Map("record_id" -> i.toString, "iter" -> "0", "c_name" -> "", "s_name" -> "", "p_name" -> "")
    i % 3 match {
      case 0 => base ++ Map("c_name" -> f"Customer#$i%09d", "c_nation" -> "PERU", "c_mktsegment" -> "BUILDING")
      case 1 => base ++ Map("s_name" -> f"Supplier#$i%09d", "s_nation" -> "KENYA")
      case _ => base ++ Map("p_name" -> "blue rod", "p_brand" -> "Brand#12", "p_type" -> "PROMO")
    }
  }

  private def prompt(rs: Seq[Map[String, String]]): String =
    rs.map(r => ModeledLlm.json(r.toSeq.sortBy(_._1): _*)).mkString("[", ",", "]")

  /** The tolerant recovery rule: flat {...} fragments that parse and
    * name a subject or an object. */
  private def recovered(completions: Seq[String]): Set[Landing.Triple] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    completions.flatMap(c => "\\{[^{}]*\\}".r.findAllIn(c)).flatMap { f =>
      scala.util.Try(mapper.readTree(f)).toOption.filter(n => n.has("subject") || n.has("object"))
        .map(n => (n.get("subject").asText, n.get("subject_type").asText, n.get("relation").asText,
          n.get("object").asText, n.get("object_type").asText))
    }.toSet
  }

  test("ModeledLlm is deterministic and its triples do not depend on batching") {
    val chain = LlmChains.RetryingChain(ModeledLlm(seed = 1, fixedMs = 0.1, perRecordMs = 0.0,
      burstEvery = 10), baseDelayMs = 1)
    LlmMeter.reset()
    val whole = chain.invoke(Iterator(prompt(records))).toSeq
    LlmMeter.reset()
    assert(chain.invoke(Iterator(prompt(records))).toSeq == whole)
    LlmMeter.reset()
    val split = chain.invoke(records.grouped(4).map(prompt)).toSeq
    assert(LlmMeter.throttled.get > 0 && LlmMeter.retries.get == LlmMeter.throttled.get)
    val want = records.flatMap(ModeledLlm.recordTriples).toSet
    assert(want.nonEmpty)
    assert(recovered(whole) == want)
    assert(recovered(split) == want)
    assert(whole.head.startsWith("Sure!") && whole.head.contains("\"object\": }") && whole.head.contains("confidence"))
  }

  test("ModeledLlm bursts stay below RetryingChain's attempts and the cap throttles") {
    LlmMeter.reset()
    val burst = ModeledLlm(seed = 0, fixedMs = 0.1, perRecordMs = 0.0, burstEvery = 4)
    val p = prompt(records.take(1)) // record 0: the two-failure burst
    assert(intercept[ModeledLlm.RateLimited](burst.invoke(Iterator(p)).next()).getMessage.startsWith("429"))
    assert(LlmChains.RetryingChain(burst, baseDelayMs = 1).invoke(Iterator(p)).next().nonEmpty)
    assert(LlmMeter.throttled.get == 2 && LlmMeter.completions.get == 1)
    LlmMeter.reset()
    val capped = ModeledLlm(seed = 1, concurrencyCap = 0)
    assertThrows[ModeledLlm.RateLimited](capped.invoke(Iterator(p)).next())
  }

  test("TimedChain passes completions through and times each prompt, retries included") {
    LlmMeter.reset()
    LlmMeter.latenciesNs.clear()
    val inner = LlmChains.RetryingChain(ModeledLlm(seed = 0, fixedMs = 0.1, perRecordMs = 0.0, burstEvery = 4),
      baseDelayMs = 20)
    val ps = records.take(4).map(r => prompt(Seq(r)))
    val out = TimedChain(inner).invoke(ps.iterator).toSeq
    LlmMeter.reset()
    assert(out == inner.invoke(ps.iterator).toSeq)
    val ms = LlmMeter.latenciesNs.asScala.map(_.longValue / 1e6).toSeq
    // record 0 fails twice first: 20 ms and 40 ms of backoff
    assert(ms.size == 4 && ms.max >= 60 && ms.count(_ < 20) >= 2)
  }

  private val triples: Seq[Landing.Triple] = Seq(
    ("Veduta abc", "entity", "preflabel", "Veduta abc", "entity"),
    ("Veduta abc", "entity", "note", "1875", "Year"),
    ("Veduta abc", "entity", "creator", "Torino Master b", "entity"),
    ("[record_id:1,c_name:Customer", "text", "mentions", "stub", "entity"))
  private val rdf = triples.filter(_._2 == "entity")
  private val graph = Checks.expectedGraph(triples)

  private def batchesOf(edges: Seq[(String, String, String, String, String, Long)], size: Int): Seq[String] =
    edges.grouped(size).map(_.map { case (sl, s, r, dl, d, w) =>
      ModeledLlm.json("src_label" -> sl, "src" -> s, "rel" -> r, "dst_label" -> dl, "dst" -> d)
        .dropRight(1) + s""", "weight": $w}"""
    }.mkString("[", ",", "]")).toSeq

  private val edges = graph._2.toSeq.map { case ((a, b, c, d, e), w) => (a, b, c, d, e, w) }.sorted
  private val nodes = graph._1.toSeq

  test("the kg_pipeline checks accept a consistent output") {
    assert(Checks.kgTriples(10, 10, triples, rdf).isEmpty)
    assert(Checks.kgGraph(graph, nodes, batchesOf(edges, 2)).isEmpty)
    assert(Checks.batchCounts(Seq(2L, 2L), batchesOf(edges, 2)).isEmpty)
    assert(graph._1.contains("Year" -> "1875") && graph._2.keySet.exists(_._3 == "CREATOR"))
  }

  test("the kg_pipeline checks reject corrupted outputs") {
    assert(Checks.kgTriples(9, 10, triples, rdf).nonEmpty)
    assert(Checks.kgTriples(10, 10, triples.updated(1, ("Veduta abc", "entity", "note", "1876", "Year")), rdf).nonEmpty)
    assert(Checks.kgTriples(10, 10, triples.drop(1), rdf).nonEmpty)
    // one dropped edge
    assert(Checks.kgGraph(graph, nodes, batchesOf(edges.drop(1), 2)).nonEmpty)
    // a changed weight
    assert(Checks.kgGraph(graph, nodes, batchesOf(edges.map(e => e.copy(_6 = e._6 + 1)), 2)).nonEmpty)
    // one missing node leaves an orphan endpoint
    assert(Checks.kgGraph(graph, nodes.filterNot(_._2 == "1875"), batchesOf(edges, 2)).nonEmpty)
    assert(Checks.kgGraph(graph, nodes :+ nodes.head, batchesOf(edges, 2)).nonEmpty)
    // an oversized batch
    val big = (0 until 501).map(i => ("Entity", s"s$i", "R", "Entity", s"o$i", 1L))
    val bigGraph = (graph._1 ++ big.flatMap(e => Seq(e._1 -> e._2, e._4 -> e._5)),
      big.map(e => (e._1, e._2, e._3, e._4, e._5) -> e._6).toMap)
    assert(Checks.kgGraph(bigGraph, bigGraph._1.toSeq, batchesOf(big, 500)).isEmpty)
    assert(Checks.kgGraph(bigGraph, bigGraph._1.toSeq, batchesOf(big, 501)).exists(_.contains("> 500")))
    assert(Checks.batchCounts(Seq(2L, 1L), batchesOf(edges, 2)).nonEmpty)
  }

  test("the llm_extract and operator_mix checks reject corrupted outputs") {
    val want = records.flatMap(ModeledLlm.recordTriples).toSet
    assert(Checks.llmTriples("load", want.toSeq, want).isEmpty)
    assert(Checks.llmTriples("load", want.toSeq.drop(1), want).nonEmpty)
    assert(Checks.llmTriples("load", want.toSeq :+ (("x", "y", "z", "w", "v")), want).nonEmpty)
    val rows = Seq(org.apache.spark.sql.Row(1L, "a", 0.123456), org.apache.spark.sql.Row(2L, null, 2.0))
    val h = Checks.canon(Seq("id", "Name", "score"), rows)
    assert(Checks.canon(Seq("id", "Name", "score"), rows.reverse) == h)
    assert(Checks.face("f", 2, h, Some(2L -> h)).isEmpty)
    assert(Checks.face("f", 2, Checks.canon(Seq("id", "Name", "score"),
      rows.updated(0, org.apache.spark.sql.Row(1L, "a", 0.1236))), Some(2L -> h)).nonEmpty)
    assert(Checks.face("f", 1, h, Some(2L -> h)).nonEmpty)
    assert(Checks.face("f", 2, h, None).nonEmpty)
  }
}
