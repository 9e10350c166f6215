package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The scale-factor table directory the registered faces read
  * (`Tables.*`): a TPC-H-like star schema plus events, documents and
  * embeddings, with the column names and types of the repository's sf test data, at
  * about sf0.001. The content is a fixed function of `SfGen.Seed`, so a
  * face's rows can be pinned by a recorded hash. */
object SfGen {
  val Seed = 20261017L

  private val Words = IndexedSeq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "a", "the", "line", "join", "sort", "order", "window", "stream",
    "data", "query", "filter", "column", "vector", "small", "big", "group", "customer", "dup")
  private val Langs = IndexedSeq("en", "en", "en", "fr", "es", "de", "it")
  private val Regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Events = IndexedSeq("click", "view", "purchase", "error", "signup")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def ts(base: LocalDateTime, seconds: Long) = base.plusSeconds(seconds)

  /** Number of rows written, over all tables. */
  def write(spark: SparkSession, dir: String): Long = {
    val m = Mix(Seed)
    def money(salt: Long, i: Long, lo: Int, hi: Int): Double = (lo * 100L + m.int(salt, i, (hi - lo) * 100)) / 100.0
    def table(name: String, schema: String, rows: Seq[Row]): Long = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType.fromDDL(schema))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      rows.size.toLong
    }
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val (nCust, nSupp, nPart, nOrd, nDoc, nEmb, nEv) = (150, 10, 200, 1500, 500, 500, 1000)
    var n = 0L
    n += table("region", "r_regionkey int, r_name string",
      Regions.indices.map(i => Row(i, Regions(i))))
    n += table("nation", "n_nationkey int, n_name string, n_regionkey int",
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    n += table("customer", "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", m.int(1, i, 25), money(2, i, -900, 9999),
        Landing.Segments(m.int(3, i, 5)))))
    n += table("supplier", "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", m.int(4, i, 25), money(5, i, 500, 9999))))
    n += table("part", "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
      (0 until nPart).map(i => Row(i.toLong, s"${Landing.Adjectives(m.int(6, i, 10))} ${Landing.Nouns(m.int(7, i, 12))}",
        s"Brand#${m.int(8, i, 5) + 1}${m.int(9, i, 5) + 1}", Landing.PartTypes(m.int(10, i, 6)), m.int(11, i, 50) + 1,
        900 + (i % 200) / 10.0)))
    n += table("orders", "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, " +
      "o_orderdate timestamp_ntz, o_orderpriority string",
      (0 until nOrd).map(i => Row(i.toLong, m.int(12, i, nCust).toLong, Seq("O", "F", "P")(m.int(13, i, 3)),
        money(14, i, 1000, 499999), ts(d1995, 86400L * m.int(15, i, 2400)), Priorities(m.int(16, i, 5)))))
    n += table("lineitem", "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, " +
      "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, " +
      "l_shipdate timestamp_ntz",
      (0 until nOrd * 4).map { j =>
        val o = m.int(17, j, nOrd)
        Row(o.toLong, m.int(18, j, nPart).toLong, m.int(19, j, nSupp).toLong, j % 7 + 1, (m.int(20, j, 50) + 1).toDouble,
          money(21, j, 900, 104999), m.int(22, j, 11) / 100.0, m.int(23, j, 9) / 100.0, Seq("A", "N", "R")(m.int(24, j, 3)),
          Seq("F", "O")(m.int(25, j, 2)), ts(d1995, 86400L * (m.int(26, j, 2500) + 1)))
      })
    val base = LocalDateTime.of(2024, 1, 1, 0, 0)
    n += table("events", "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
      (0 until nEv).map(i => Row(i.toLong, base.plusNanos(1000L * (i * 2592000000L / nEv + m.int(27, i, 1000000))),
        m.int(28, i, 15).toLong, Events(m.int(29, i, 5)), money(30, i, 0, 330), s"""{"k": ${m.int(31, i, 100)}}""")))
    // one document in five is a near-copy of an earlier one (two words changed)
    val texts = Array.ofDim[String](nDoc)
    (0 until nDoc).foreach { i =>
      texts(i) =
        if (i >= 10 && m.int(32, i, 5) == 0) {
          val w = texts(m.int(33, i, i)).split(" ")
          (0 until 2).foreach(k => w(m.int(34, i * 2L + k, w.length)) = Words(m.int(35, i * 2L + k, Words.size)))
          w.mkString(" ")
        } else (0 until 8 + m.int(36, i, 80)).map(k => Words(m.int(37, i * 128L + k, Words.size))).mkString(" ")
    }
    n += table("documents", "doc_id long, text string, lang string, source string, n_chars long",
      (0 until nDoc).map(i => Row(i.toLong, texts(i), Langs(m.int(38, i, Langs.size)), s"src${i % 20}", texts(i).length.toLong)))
    // ten clusters: a centroid per label plus noise, unit length
    val centroids = (0 until 10).map(c => (0 until 64).map(k => m.unit(39, c * 64L + k) * 2 - 1))
    n += table("embeddings", "vec_id long, embedding array<float>, label int",
      (0 until nEmb).map { i =>
        val c = m.int(40, i, 10)
        val v = centroids(c).zipWithIndex.map { case (x, k) => x + 0.6 * (m.unit(41, i * 64L + k) * 2 - 1) }
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), c)
      })
    n
  }
}
