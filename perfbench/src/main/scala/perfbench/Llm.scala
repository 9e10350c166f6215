package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.kg.LlmChains

/** Counters shared by the benchmark's chains. Chains run inside Spark
  * tasks; in local mode those run in this JVM, so process-wide counters
  * see every call. */
object LlmMeter {
  val calls = new AtomicLong        // attempts that reached the model
  val retries = new AtomicLong      // attempts after a prompt's first
  val throttled = new AtomicLong    // attempts answered with a 429
  val completions = new AtomicLong  // attempts that returned text
  val records = new AtomicLong      // records in completed prompts
  val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  val inflightSum = new AtomicLong  // in-flight count seen at each call start
  val waitNs = new AtomicLong       // modeled latency slept
  val promptBytes = new AtomicLong
  val fragments = new AtomicLong    // {...} fragments emitted
  // each prompt's latency through TimedChain; not cleared by reset()
  val latenciesNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  private[perfbench] val sends = TrieMap.empty[String, (Boolean, Int)]

  def reset(): Unit = {
    Seq(calls, retries, throttled, completions, records, inflightSum, waitNs, promptBytes, fragments)
      .foreach(_.set(0))
    inflightMax.set(0)
    sends.clear()
  }
}

/** A rate-limited external LLM, modeled:
  *  - latency is `fixedMs` plus `perRecordMs` for each record in the prompt;
  *  - a call that would exceed `concurrencyCap` in-flight calls gets a 429;
  *  - seeded 429 bursts: on its first send, a prompt holding the record
  *    with (record_id + seed) % burstEvery == burstEvery / 2 fails once,
  *    and one holding the record with remainder 0 fails twice: fewer
  *    failures than RetryingChain's default three attempts, and, when
  *    the record count is a multiple of burstEvery, the same number of
  *    bursts for every seed;
  *  - the completion is chatty prose around a JSON array, with seeded
  *    malformed fragments and fragments naming neither subject nor
  *    object mixed in;
  *  - the triples depend only on the records, never on how they were
  *    batched ([[ModeledLlm.recordTriples]]).
  * A prompt is a JSON array of flat records, as `Sources.jsonBatches`
  * builds it. */
final case class ModeledLlm(seed: Long, fixedMs: Double = 40.0, perRecordMs: Double = 0.4,
    concurrencyCap: Int = 8, burstEvery: Int = 1800) extends LlmChains.Chain {
  import LlmMeter._

  def invoke(prompts: Iterator[String]): Iterator[String] = prompts.map(complete)

  private def complete(prompt: String): String = {
    val recs = ModeledLlm.parse(prompt)
    val ids = recs.map(r => r.getOrElse("record_id", "0").toLong)
    // (answered before, failures since the last answer) of this prompt
    val (answered, failing) = sends.synchronized(sends.getOrElse(prompt, (false, 0)))
    calls.incrementAndGet()
    if (failing > 0) retries.incrementAndGet()
    val now = inflight.incrementAndGet()
    try {
      inflightSum.addAndGet(now)
      inflightMax.accumulateAndGet(now, math.max)
      val burst = if (answered) 0 else ids.map(i => java.lang.Math.floorMod(i + seed, burstEvery.toLong))
        .map(r => if (r == 0) 2 else if (r == burstEvery / 2) 1 else 0).maxOption.getOrElse(0)
      if (now > concurrencyCap || failing < burst) {
        throttled.incrementAndGet()
        sends.synchronized(sends(prompt) = (answered, failing + 1))
        throw new ModeledLlm.RateLimited(s"429: too many requests (attempt ${failing + 1})")
      }
      sends.synchronized(sends(prompt) = (true, 0))
      val ns = ((fixedMs + perRecordMs * recs.size) * 1e6).toLong
      Thread.sleep(ns / 1000000, (ns % 1000000).toInt)
      waitNs.addAndGet(ns)
      promptBytes.addAndGet(prompt.length)
      completions.incrementAndGet()
      records.addAndGet(recs.size)
      render(recs)
    } finally inflight.decrementAndGet()
  }

  private def render(recs: Seq[Map[String, String]]): String = {
    val m = Mix(seed)
    val frags = recs.flatMap { r =>
      val id = r.getOrElse("record_id", "0").toLong
      val good = ModeledLlm.recordTriples(r).map { case (s, st, rel, o, ot) =>
        ModeledLlm.json("subject" -> s, "subject_type" -> st, "relation" -> rel,
          "object" -> o, "object_type" -> ot)
      }
      val malformed =
        if (m.int(90, id, 7) == 0) Seq(s"""{"subject": ${ModeledLlm.quote(ModeledLlm.name(r))}, "relation": "note", "object": }""")
        else Nil
      val useless = if (m.int(91, id, 11) == 0) Seq("""{"confidence": "high"}""") else Nil
      good ++ malformed ++ useless
    }
    fragments.addAndGet(frags.size)
    "Sure! Here are the triplets I found in these records:\n```json\n[" +
      frags.mkString(",\n") + "]\n```\nLet me know if you need anything else."
  }
}

object ModeledLlm {
  final class RateLimited(msg: String) extends RuntimeException(msg)

  private val mapper = new ObjectMapper()

  /** A prompt's records, every value as a string. */
  def parse(prompt: String): Seq[Map[String, String]] =
    mapper.readTree(prompt).elements().asScala.map { rec =>
      rec.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.toSeq

  def quote(s: String): String = mapper.writeValueAsString(s)

  def json(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ", ", "}")

  def name(r: Map[String, String]): String =
    Seq("c_name", "s_name", "p_name").flatMap(r.get).find(_.nonEmpty).getOrElse("")

  /** The ground truth the model extracts from one record. */
  def recordTriples(r: Map[String, String]): Seq[Landing.Triple] = {
    val n = name(r)
    def t(kind: String, field: String, rel: String, otype: String) =
      r.get(field).filter(_.nonEmpty).map(v => (n, kind, rel, v, otype))
    if (r.get("c_name").exists(_.nonEmpty))
      Seq(t("customer", "c_nation", "located in", "nation"), t("customer", "c_mktsegment", "in segment", "segment")).flatten
    else if (r.get("s_name").exists(_.nonEmpty))
      Seq(t("supplier", "s_nation", "located in", "nation")).flatten
    else if (n.nonEmpty)
      Seq(t("part", "p_brand", "made by", "brand"), t("part", "p_type", "has type", "part type")).flatten
    else Nil
  }
}

/** Times each prompt through `inner`, as the task calling the chain
  * waits for it: retries and backoff included. */
final case class TimedChain(inner: LlmChains.Chain) extends LlmChains.Chain {
  def invoke(prompts: Iterator[String]): Iterator[String] = {
    val out = inner.invoke(prompts)
    new Iterator[String] {
      def hasNext: Boolean = out.hasNext
      def next(): String = {
        val t0 = System.nanoTime()
        val completion = out.next()
        LlmMeter.latenciesNs.add(System.nanoTime() - t0)
        completion
      }
    }
  }
}

/** StubChain with a call counter: the same completions, so swapping it
  * in changes no output. */
object CountingStub extends LlmChains.Chain {
  val calls = new AtomicLong
  def invoke(prompts: Iterator[String]): Iterator[String] =
    LlmChains.StubChain.invoke(prompts.map { p => calls.incrementAndGet(); p })
}

/** Recording Neo4j transport: keeps every (cypher, rows_json) batch. */
object RecordingTransport extends graft.kg.Neo4jUpsert.CypherTransport {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def send(it: Iterator[(String, String)]): Unit = it.foreach { case (_, rows) => batches.add(rows) }
  def drain(): Seq[String] = {
    val out = batches.asScala.toSeq
    batches.clear()
    out
  }
}
