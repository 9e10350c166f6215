package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded hashing: every generated value is a pure function of
  * (seed, salt, index), so the same seed always gives the same bytes. */
final case class Mix(seed: Long) {
  def long(salt: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def int(salt: Long, i: Long, n: Int): Int = java.lang.Math.floorMod(long(salt, i), n.toLong).toInt
  def pick[A](salt: Long, i: Long, xs: IndexedSeq[A]): A = xs(int(salt, i, xs.size))
  def unit(salt: Long, i: Long): Double = (long(salt, i) >>> 11) * (1.0 / (1L << 53))
}

/** The landing directory the paper's pipeline ingests: customers as CSV,
  * suppliers as TSV, parts as one JSON array, and documents as RDF/XML
  * files. Tabular records carry a `record_id` that is dense across the
  * three tabular files. The RDF/XML mixes KEEP and non-KEEP predicates,
  * every step of the label fallback chain (prefLabel, altLabel,
  * rdfs:label, dcterms:title, URI fragment), `xsd:hexBinary` literals,
  * `xml:lang` tags, year-bearing literals and doubled spaces.
  *
  * Besides writing the files, the generator computes the triples the
  * RDF branch must produce after normalization, from its own document
  * model rather than from the parser under test. */
object Landing {

  final case class Scale(customers: Int, suppliers: Int, parts: Int, docs: Int, files: Int) {
    def records: Int = customers + suppliers + parts
  }

  /** (subject, subject_type, relation, object, object_type) */
  type Triple = (String, String, String, String, String)

  final case class Written(dir: Path, records: Int, rdfTriples: Seq[Triple])

  val Nations: IndexedSeq[String] = IndexedSeq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
    "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  val Segments: IndexedSeq[String] = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Adjectives: IndexedSeq[String] = IndexedSeq("small", "large", "blue", "red", "new", "old", "bright", "dark", "shiny", "matte")
  val Nouns: IndexedSeq[String] = IndexedSeq("ring", "rod", "gear", "anvil", "bolt", "valve", "spring", "lamp", "frame", "panel", "wheel", "chain")
  val PartTypes: IndexedSeq[String] = IndexedSeq("ECONOMY", "PROMO", "MEDIUM", "STANDARD", "LARGE", "SMALL")
  val Subjects: IndexedSeq[String] = IndexedSeq("Veduta", "Ritratto", "Paesaggio", "Natura morta", "Studio", "Allegoria", "Battaglia", "Madonna")
  val Places: IndexedSeq[String] = IndexedSeq("Torino", "Venezia", "Roma", "Firenze", "Napoli", "Milano", "Genova", "Bologna")
  val Concepts: IndexedSeq[String] = IndexedSeq("Landscape", "Portrait", "Sea", "Church", "Horse", "Garden", "River", "Mountain")
  val NoteWords: IndexedSeq[String] = IndexedSeq("oil", "canvas", "panel", "tempera", "signed", "lower", "left", "restored", "frame", "gilded", "copy", "workshop")

  /** Letters-only code for an index, so generated labels never contain a
    * four-digit run the year rule would rewrite. */
  def code(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    do { sb.append(('a' + n % 26).toChar); n /= 26 } while (n > 0)
    sb.reverse.toString
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))

  def generate(dir: Path, seed: Long, scale: Scale): Written = {
    val m = Mix(seed)
    Files.createDirectories(dir)
    var rid = 0

    val csv = new StringBuilder("record_id,c_custkey,c_name,c_address,c_nation,c_acctbal,c_mktsegment\n")
    (0 until scale.customers).foreach { k =>
      val bal = m.int(1, k, 1100000) - 100000
      csv.append(s"$rid,$k,Customer#${"%09d".format(k)},\"${m.int(2, k, 99) + 1}, Via ${m.pick(3, k, Places)}\"," +
        s"${m.pick(4, k, Nations)},${bal / 100}.${"%02d".format(math.abs(bal % 100))},${m.pick(5, k, Segments)}\n")
      rid += 1
    }
    write(dir.resolve("customers.csv"), csv.toString)

    val tsv = new StringBuilder("record_id\ts_suppkey\ts_name\ts_nation\ts_acctbal\n")
    (0 until scale.suppliers).foreach { k =>
      tsv.append(s"$rid\t$k\tSupplier#${"%09d".format(k)}\t${m.pick(6, k, Nations)}\t${m.int(7, k, 900000) / 100.0}\n")
      rid += 1
    }
    write(dir.resolve("suppliers.tsv"), tsv.toString)

    val json = new StringBuilder("[\n")
    (0 until scale.parts).foreach { k =>
      if (k > 0) json.append(",\n")
      json.append(s"""{"record_id": $rid, "p_partkey": $k, "p_name": "${m.pick(8, k, Adjectives)} ${m.pick(9, k, Nouns)}", """ +
        s""""p_brand": "Brand#${m.int(10, k, 5) + 1}${m.int(11, k, 5) + 1}", "p_type": "${m.pick(12, k, PartTypes)}", """ +
        s""""p_size": ${m.int(13, k, 50) + 1}, "p_retailprice": ${900 + m.int(14, k, 200) / 10.0}}""")
      rid += 1
    }
    json.append("\n]\n")
    write(dir.resolve("parts.json"), json.toString)

    val triples = mutable.ArrayBuffer.empty[Triple]
    val perFile = math.max(1, scale.docs / scale.files)
    (0 until scale.files).foreach { f =>
      val docs = (f * perFile) until math.min(scale.docs, (f + 1) * perFile)
      val (xml, expected) = rdfFile(m, docs)
      write(dir.resolve(s"collection_${"%03d".format(f)}.xml"), xml)
      triples ++= expected
    }
    Written(dir, rid, triples.toSeq)
  }

  private val ItemNs = "http://data.example.org/item/"
  private val AgentNs = "http://data.example.org/agent#A"
  private val ConceptNs = "http://data.example.org/concept/"

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** One RDF/XML file plus the normalized triples it must yield. */
  private def rdfFile(m: Mix, docs: Range): (String, Seq[Triple]) = {
    // raw statements in document order: (subject, predicate local name,
    // object uri or literal, isLiteral, hexBinary)
    final case class Raw(s: String, p: String, o: String, lit: Boolean, hex: Boolean = false)
    val raws = mutable.ArrayBuffer.empty[Raw]
    val xml = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
        |  xmlns:skos="http://www.w3.org/2004/02/skos/core#"
        |  xmlns:dc="http://purl.org/dc/elements/1.1/"
        |  xmlns:dcterms="http://purl.org/dc/terms/"
        |  xmlns:owl="http://www.w3.org/2002/07/owl#"
        |  xmlns:foaf="http://xmlns.com/foaf/0.1/"
        |  xmlns:edm="http://www.europeana.eu/schemas/edm/">
        |""".stripMargin)
    def lit(s: String, pq: String, p: String, v: String, attrs: String = ""): Unit = {
      xml.append(s"    <$pq$attrs>${esc(v)}</$pq>\n")
      raws += Raw(s, p, v, lit = true, hex = attrs.contains("hexBinary"))
    }
    def ref(s: String, pq: String, p: String, uri: String): Unit = {
      xml.append(s"""    <$pq rdf:resource="$uri"/>""" + "\n")
      raws += Raw(s, p, uri, lit = false)
    }
    val agents = mutable.LinkedHashSet.empty[Int]
    docs.foreach { i =>
      val s = ItemNs + code(i)
      val title = s"${m.pick(20, i, Subjects)} di ${m.pick(21, i, Places)} ${code(i)}"
      xml.append(s"""  <edm:ProvidedCHO rdf:about="$s">""" + "\n")
      if (m.int(22, i, 6) != 0) lit(s, "skos:prefLabel", "prefLabel", title, """ xml:lang="it"""")
      if (m.int(23, i, 2) == 0) lit(s, "skos:prefLabel", "prefLabel", s"View of ${m.pick(21, i, Places)} ${code(i)}", """ xml:lang="en"""")
      lit(s, "dc:title", "title", title.toUpperCase)
      val words = (0 until 3 + m.int(24, i, 4)).map(w => m.pick(25, i * 16L + w, NoteWords))
      val note = words.mkString(if (m.int(26, i, 5) == 0) "  " else " ") +
        (if (m.int(27, i, 3) == 0) s" restored in ${1850 + m.int(28, i, 160)}" else "")
      lit(s, "skos:note", "note", note, """ xml:lang="en"""")
      if (m.int(29, i, 4) == 0)
        lit(s, "skos:note", "note", "%08X".format(m.int(30, i, Int.MaxValue)),
          """ rdf:datatype="http://www.w3.org/2001/XMLSchema#hexBinary"""")
      lit(s, "dc:date", "date", s"${1700 + m.int(31, i, 300)}")
      lit(s, "dc:format", "format", m.pick(32, i, NoteWords))
      val a = m.int(33, i, math.max(4, docs.size / 3)) + docs.start
      agents += a
      ref(s, "dc:creator", "creator", AgentNs + code(a))
      ref(s, "edm:isRelatedTo", "isRelatedTo", ItemNs + code(if (m.int(34, i, 2) == 0) docs.start + m.int(35, i, docs.size) else m.int(36, i, 100000)))
      if (m.int(37, i, 3) != 0) ref(s, "owl:sameAs", "sameAs", s"http://www.wikidata.org/entity/Q${code(m.int(38, i, 1 << 20))}")
      ref(s, "foaf:depicts", "depicts", ConceptNs + m.pick(39, i, Concepts))
      xml.append("  </edm:ProvidedCHO>\n")
    }
    agents.foreach { a =>
      val s = AgentNs + code(a)
      val name = s"${m.pick(40, a, Places)} Master ${code(a)}"
      xml.append(s"""  <edm:Agent rdf:about="$s">""" + "\n")
      a % 5 match {
        case 0 => lit(s, "skos:prefLabel", "prefLabel", name); lit(s, "skos:altLabel", "altLabel", name + " (attr.)")
        case 1 => lit(s, "skos:altLabel", "altLabel", name)
        case 2 => lit(s, "rdfs:label", "label", name)
        case 3 => lit(s, "dcterms:title", "title", name)
        case _ => lit(s, "rdfs:comment", "comment", name)
      }
      xml.append("  </edm:Agent>\n")
    }
    xml.append("</rdf:RDF>\n")

    // label fallback: first literal of the highest-precedence label
    // predicate, in document order; otherwise the URI fragment
    val precedence = Seq("prefLabel", "altLabel", "label", "title")
    val labels = raws.filter(_.lit).groupBy(_.s).flatMap { case (s, rs) =>
      precedence.iterator.flatMap(p => rs.find(_.p == p)).map(r => s -> r.o).nextOption()
    }
    def resolve(uri: String): String =
      labels.getOrElse(uri, uri.split("/").last.split("#").last)
    val keep = Set("prefLabel", "altLabel", "note", "isRelatedTo", "sameAs", "creator", "depicts")
    val perFile = raws.iterator
      .filter(r => keep(r.p) && !r.hex)
      .map(r => (resolve(r.s), r.p, if (r.lit) r.o else resolve(r.o)))
      .filter { case (s, _, o) => s.trim.nonEmpty && o.trim.nonEmpty }
      .toSeq.distinct
    (xml.toString, perFile.map { case (s, p, o) =>
      val (ov, ot) = normalizeObject(o)
      (s, "entity", p.toLowerCase, ov, ot)
    })
  }

  private val Year = "\\b(1[0-9]{3}|20[0-9]{2})\\b".r

  /** The pipeline's entity rule for the values generated here (no ISO
    * dates): collapse spaces; a contained year wins, with type Year. */
  def normalizeObject(o: String): (String, String) = {
    val v = o.trim.replaceAll(" +", " ")
    Year.findFirstMatchIn(v).fold((v, "entity"))(y => (y.group(1), "Year"))
  }
}
