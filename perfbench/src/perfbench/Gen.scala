package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator: one XSD plus the XML files of one workload.
  *
  * Every workload gets the same inputs, sized by its [[Spec]]:
  *   - `corpus/part-NN.xml`  multi-file document set; prefixes of its files
  *                           are the scan set, the curation corpus, the
  *                           base of the versioned table and the dedup index,
  *                           and the XML export source
  *   - `big/big.xml`         one large file for the splittable scan
  *   - `batch/bNN.xml`       the ingest batches of one episode
  *
  * The corpus plants exact duplicates (same normalized text), near-duplicate
  * clusters (English docs with ~1 in 16 words replaced; true 3-shingle
  * Jaccard recorded), repetitive spam that fails the quality gate, a
  * language mix, and a few records with a non-numeric `doc_id` that
  * `mode=DROPMALFORMED` must drop. Batches carry exact copies and
  * near-duplicates of base documents plus fresh ones.
  *
  * Everything derives from `seed` through one SplittableRandom, so the same
  * seed writes byte-identical files; [[Inputs.checksum]] proves it.
  */
object Gen {

  /** Input shape of one workload. */
  final case class Spec(
      files: Int, docsPerFile: Int, // multi-file corpus
      words: (Int, Int), // text length range, in words
      tagsMax: Int, linksMax: Int, // repeated-element width
      bigDocs: Int, // single large file
      scanFiles: Int, curateFiles: Int, baseFiles: Int, exportFiles: Int, // corpus prefixes
      batchDocs: Int, batches: Int, // one ingest episode
      exactShare: Double, nearShare: Double, clusterMax: Int, spamShare: Double,
      malformedEvery: Int)

  /** Planted language mix of fresh documents (duplicates are English); an
    * assumption, not measured from a real corpus. */
  val langs: Seq[(String, Double)] = Seq("en" -> 0.7, "de" -> 0.15, "fr" -> 0.15)

  /** The stopword lists graft's language filter scores against; generated
    * text mixes them in so the predicted language is the planted one.
    */
  val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"))

  val sources: Seq[(String, String)] = Seq("web" -> "global", "news" -> "eu",
    "forum" -> "us", "wiki" -> "global", "books" -> "eu", "code" -> "us")
  val countries: Seq[String] =
    Seq("at", "br", "ca", "de", "es", "fr", "in", "it", "jp", "nl", "uk", "us")
  val tags: Seq[String] = (0 until 40).map(i => f"topic$i%02d")

  /** Ground truth of one generated document set (valid records only). */
  final class Truth {
    var records = 0L
    var bytes = 0L
    var idSum = 0L
    var wordSum = 0L
    var tagCount = 0L
    var linkCount = 0L
    var malformed = 0L
    val ids = mutable.ArrayBuffer.empty[Long]
    def add(d: Doc, recBytes: Int): Unit = {
      records += 1; bytes += recBytes; idSum += d.id; wordSum += d.words
      tagCount += d.tags; linkCount += d.links; ids += d.id
    }
  }

  /** What the checks need to know about one valid document. */
  final case class Doc(id: Long, lang: String, source: String, words: Int,
      tags: Int, links: Int, normMd5: String)

  /** A planted near-duplicate pair with its true 3-shingle Jaccard. */
  final case class Planted(a: Long, b: Long, jaccard: Double)

  final class Inputs(val dir: File, val spec: Spec) {
    val corpus = new Truth
    val scan = new Truth // the first `scanFiles` corpus files
    val curate = new Truth // the first `curateFiles` corpus files
    val base = new Truth // the first `baseFiles` corpus files
    val export = new Truth // the first `exportFiles` corpus files
    val big = new Truth
    val batches = mutable.ArrayBuffer.empty[Truth]
    val docs = mutable.LongMap.empty[Doc]
    val planted = mutable.ArrayBuffer.empty[Planted] // within the corpus
    val exactCopies = mutable.ArrayBuffer.empty[(Long, Long)] // (batch doc, base doc)
    var exactInCorpus = 0L
    var spam = 0L
    val langCount = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val clusterSizes = mutable.ArrayBuffer.empty[Int]
    private val md = MessageDigest.getInstance("SHA-256")
    def digest(bytes: Array[Byte]): Unit = md.update(bytes)
    lazy val checksum: String = md.digest().map("%02x".format(_)).mkString.take(16)

    def path(rel: String): String = new File(dir, rel).getAbsolutePath
    def corpusFiles(n: Int): Seq[String] =
      (0 until n).map(i => path(f"corpus/part-$i%02d.xml"))
    def batchFile(i: Int): String = path(f"batch/b$i%02d.xml")
    def schemaDir: String = path("schema")
  }

  val xsd: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema" elementFormDefault="qualified">
      |  <xs:element name="corpus" type="corpusType"/>
      |  <xs:complexType name="corpusType">
      |    <xs:sequence>
      |      <xs:element name="doc" type="docType" minOccurs="0" maxOccurs="unbounded"/>
      |    </xs:sequence>
      |  </xs:complexType>
      |  <xs:complexType name="authorType">
      |    <xs:sequence>
      |      <xs:element name="name" type="xs:string"/>
      |      <xs:element name="country" type="xs:string"/>
      |    </xs:sequence>
      |  </xs:complexType>
      |  <xs:complexType name="metaType">
      |    <xs:sequence>
      |      <xs:element name="published" type="xs:date"/>
      |      <xs:element name="score" type="xs:decimal"/>
      |      <xs:element name="words" type="xs:int"/>
      |      <xs:element name="author" type="authorType"/>
      |    </xs:sequence>
      |  </xs:complexType>
      |  <xs:complexType name="linkType">
      |    <xs:sequence>
      |      <xs:element name="href" type="xs:string"/>
      |      <xs:element name="rank" type="xs:int"/>
      |    </xs:sequence>
      |  </xs:complexType>
      |  <xs:complexType name="docType">
      |    <xs:sequence>
      |      <xs:element name="title" type="xs:string"/>
      |      <xs:element name="text" type="xs:string"/>
      |      <xs:element name="meta" type="metaType"/>
      |      <xs:element name="tag" type="xs:string" minOccurs="0" maxOccurs="unbounded"/>
      |      <xs:element name="link" type="linkType" minOccurs="0" maxOccurs="unbounded"/>
      |    </xs:sequence>
      |    <xs:attribute name="doc_id" type="xs:long" use="required"/>
      |    <xs:attribute name="lang" type="xs:string" use="required"/>
      |    <xs:attribute name="source" type="xs:string" use="required"/>
      |  </xs:complexType>
      |</xs:schema>
      |""".stripMargin

  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = md5.get().digest(s.getBytes(UTF_8))
    val cs = new Array[Char](32)
    var i = 0
    while (i < 16) {
      cs(2 * i) = hexDigits((d(i) >> 4) & 15); cs(2 * i + 1) = hexDigits(d(i) & 15); i += 1
    }
    new String(cs)
  }

  /** Distinct word 3-grams of normalized text, as graft's shingles. */
  def shingles(normText: String): Set[String] = {
    val w = normText.split(' ')
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  /** 3-shingle Jaccard of two already normalized texts. */
  def jaccard(a: String, b: String): Double = {
    val sa = shingles(a); val sb = shingles(b)
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.count(sb).toDouble / (sa.size + sb.size - sa.count(sb))
  }

  private def pad2(sb: StringBuilder, v: Int): StringBuilder =
    (if (v < 10) sb.append('0') else sb).append(v)


  private final class Vocab(rnd: SplittableRandom) {
    private val syl = Array("ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu",
      "ne", "pi", "ro", "sa", "te", "vu", "wy", "xo", "za", "qu", "br", "st",
      "tr", "pl", "gr", "ch", "sh", "th", "ph", "kr", "dr")
    private val stopAll = stop.values.flatten.toSet
    private def word(): String = {
      var w = ""
      while (w.length < 4 || stopAll.contains(w))
        w = (0 until 2 + rnd.nextInt(3)).map(_ => syl(rnd.nextInt(syl.length))).mkString
      w
    }
    val byLang: Map[String, Array[String]] =
      stop.keys.toSeq.sorted.map(l => l -> Array.fill(3000)(word())).toMap
    val names: Array[String] = Array.fill(500)(word())
  }

  /** Writes all inputs of `spec` under `dir` (wiped first). */
  def generate(dir: File, spec: Spec, seed: Long): Inputs = {
    deleteTree(dir)
    Seq("schema", "corpus", "big", "batch").foreach(d => new File(dir, d).mkdirs())
    val in = new Inputs(dir, spec)
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L)
    val vocab = new Vocab(rnd.split())
    val xsdBytes = xsd.getBytes(UTF_8)
    Files.write(new File(dir, "schema/doc.xsd").toPath, xsdBytes)
    in.digest(xsdBytes)

    def pickLang(): String = {
      var x = rnd.nextDouble(); var i = 0
      while (i < langs.length - 1 && x >= langs(i)._2) {
        x -= langs(i)._2; i += 1
      }
      langs(i)._1
    }
    def text(lang: String, n: Int): String = {
      val v = vocab.byLang(lang); val st = stop(lang)
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(if (rnd.nextInt(100) < 35) st(rnd.nextInt(st.length))
          else v(rnd.nextInt(v.length)))
        i += 1
      }
      sb.toString
    }
    def nWords(): Int = spec.words._1 + rnd.nextInt(spec.words._2 - spec.words._1 + 1)
    // near-duplicate variant: ~1 in 16 words replaced, so a 3-shingle set
    // keeps roughly 2/3 of its members (Jaccard ~0.6-0.75)
    def variant(t: String): String = {
      val v = vocab.byLang("en")
      t.split(" ").map(w => if (rnd.nextInt(16) == 0) v(rnd.nextInt(v.length)) else w)
        .mkString(" ")
    }
    // a copy whose NORMALIZED text is identical: case and spacing vary
    def exactCopy(t: String): String =
      if (rnd.nextBoolean()) t.toUpperCase else t.replace(" ", "  ") + " "

    val texts = mutable.LongMap.empty[String] // valid docs by id, for copies
    val pool = mutable.ArrayBuffer.empty[Long] // ids eligible as copy sources
    var nextId = 1L

    // `normText` is the normalized form of `txt`: generated text already is
    // normalized, an exact copy's is its source's
    def record(sb: StringBuilder, t: Truth, lang: String, txt: String,
        malformed: Boolean, normText: String = null): Long = {
      val nt = if (normText == null) txt else normText
      val id = nextId; nextId += 1
      val source = sources(rnd.nextInt(sources.length))._1
      var words = 1
      var k = 0
      while (k < nt.length) { if (nt.charAt(k) == ' ') words += 1; k += 1 }
      val nTags = rnd.nextInt(spec.tagsMax + 1)
      val nLinks = rnd.nextInt(spec.linksMax + 1)
      val start = sb.length
      sb.append("<doc doc_id=\"").append(if (malformed) s"x$id" else id.toString)
        .append("\" lang=\"").append(lang).append("\" source=\"").append(source)
        .append("\"><title>")
      val tw = vocab.byLang(lang)
      sb.append(tw(rnd.nextInt(tw.length)).capitalize).append(' ')
        .append(tw(rnd.nextInt(tw.length))).append(' ').append(tw(rnd.nextInt(tw.length)))
      sb.append("</title><text>").append(txt).append("</text><meta><published>")
      sb.append(2000 + rnd.nextInt(25)).append('-')
      pad2(sb, 1 + rnd.nextInt(12)).append('-')
      pad2(sb, 1 + rnd.nextInt(28))
      sb.append("</published><score>").append(rnd.nextInt(10000)).append('.')
      pad2(sb, rnd.nextInt(100)).append("</score><words>").append(words)
        .append("</words><author><name>").append(vocab.names(rnd.nextInt(vocab.names.length)))
        .append("</name><country>").append(countries(rnd.nextInt(countries.length)))
        .append("</country></author></meta>")
      var i = 0
      while (i < nTags) { sb.append("<tag>").append(tags(rnd.nextInt(tags.length))).append("</tag>"); i += 1 }
      i = 0
      while (i < nLinks) {
        sb.append("<link><href>https://h").append(rnd.nextInt(1000)).append(".example/")
          .append(id).append('/').append(i).append("</href><rank>").append(1 + rnd.nextInt(100))
          .append("</rank></link>")
        i += 1
      }
      sb.append("</doc>\n")
      if (!malformed) {
        val d = Doc(id, lang, source, words, nTags, nLinks, md5Hex(nt))
        in.docs(id) = d
        t.add(d, sb.length - start)
        in.langCount(lang) += 1
      } else t.malformed += 1
      id
    }

    def writeFile(relPath: String, sb: StringBuilder): Unit = {
      val bytes = sb.toString.getBytes(UTF_8)
      Files.write(new File(dir, relPath).toPath, bytes)
      in.digest(relPath.getBytes(UTF_8)); in.digest(bytes)
    }

    // ---- corpus: fresh docs, exact copies, near-dup clusters, spam ------
    var pendingNear = List.empty[(Long, String)] // (cluster base id, base text)
    var serial = 0L
    (0 until spec.files).foreach { f =>
      val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<corpus>\n")
      val ts = Seq(in.corpus) ++ (if (f < spec.scanFiles) Seq(in.scan) else Nil) ++
        (if (f < spec.curateFiles) Seq(in.curate) else Nil) ++
        (if (f < spec.exportFiles) Seq(in.export) else Nil) ++
        (if (f < spec.baseFiles) Seq(in.base) else Nil)
      val t = new Truth
      (0 until spec.docsPerFile).foreach { _ =>
        serial += 1
        val x = rnd.nextDouble()
        if (serial % spec.malformedEvery == 0) {
          record(sb, t, pickLang(), text(pickLang(), nWords()), malformed = true)
        } else if (pendingNear.nonEmpty) {
          val (baseId, baseText) = pendingNear.head
          pendingNear = pendingNear.tail
          val v = variant(baseText)
          val id = record(sb, t, "en", v, malformed = false)
          in.planted += Planted(baseId, id, jaccard(baseText, v))
        } else if (x < spec.exactShare && pool.nonEmpty) {
          val src = pool(rnd.nextInt(pool.length))
          val d = in.docs(src)
          record(sb, t, d.lang, exactCopy(texts(src)), malformed = false, texts(src))
          in.exactInCorpus += 1
        } else if (x < spec.exactShare + spec.nearShare) {
          val txt = text("en", nWords())
          val id = record(sb, t, "en", txt, malformed = false)
          texts(id) = txt; pool += id
          val size = 2 + rnd.nextInt(spec.clusterMax - 1)
          in.clusterSizes += size
          pendingNear = List.fill(size - 1)((id, txt))
        } else if (x < spec.exactShare + spec.nearShare + spec.spamShare) {
          // English stopwords keep it past the language filter; two
          // distinct words fail the repetition gate
          val w = vocab.byLang("en")(rnd.nextInt(3000))
          record(sb, t, "en", Seq.fill(nWords() / 2)(s"the $w").mkString(" "),
            malformed = false)
          in.spam += 1
        } else {
          val lang = pickLang()
          val txt = text(lang, nWords())
          val id = record(sb, t, lang, txt, malformed = false)
          texts(id) = txt; pool += id
        }
      }
      sb.append("</corpus>\n")
      writeFile(f"corpus/part-$f%02d.xml", sb)
      ts.foreach { tt =>
        tt.records += t.records; tt.bytes += t.bytes; tt.idSum += t.idSum
        tt.wordSum += t.wordSum; tt.tagCount += t.tagCount; tt.linkCount += t.linkCount
        tt.malformed += t.malformed; tt.ids ++= t.ids
      }
    }
    val baseMax = in.base.ids.maxOption.getOrElse(0L)
    val basePool = pool.filter(_ <= baseMax)

    // ---- one large file -------------------------------------------------
    {
      val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<corpus>\n")
      (0 until spec.bigDocs).foreach { i =>
        val lang = pickLang()
        record(sb, in.big, lang, text(lang, nWords()),
          malformed = (i + 1) % spec.malformedEvery == 0)
      }
      sb.append("</corpus>\n")
      writeFile("big/big.xml", sb)
    }

    // ---- ingest batches: copies and near-dups of base docs, fresh docs ---
    (0 until spec.batches).foreach { b =>
      val t = new Truth
      val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<corpus>\n")
      (0 until spec.batchDocs).foreach { i =>
        val x = rnd.nextDouble()
        if ((i + 1) % spec.malformedEvery == 0) {
          record(sb, t, "en", text("en", nWords()), malformed = true)
        } else if (x < 0.05 && basePool.nonEmpty) {
          val src = basePool(rnd.nextInt(basePool.length))
          val id = record(sb, t, in.docs(src).lang, exactCopy(texts(src)), malformed = false,
            texts(src))
          in.exactCopies += ((id, src))
        } else if (x < 0.10 && basePool.nonEmpty) {
          val src = basePool(rnd.nextInt(basePool.length))
          record(sb, t, "en", variant(texts(src)), malformed = false)
        } else {
          val lang = pickLang()
          record(sb, t, lang, text(lang, nWords()), malformed = false)
        }
      }
      sb.append("</corpus>\n")
      writeFile(f"batch/b$b%02d.xml", sb)
      in.batches += t
    }
    in
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
}
