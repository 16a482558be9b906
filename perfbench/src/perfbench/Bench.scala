package perfbench

import graft.operators.Versioned
import graft.pipeline.{Curation, Dedup, DedupIndex, Sampling}
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.collection.mutable

/** One workload run: set-up (repeated, median reported), a warm-up, a
  * closed-loop timed phase of the workload's operation, output checks, and
  * the metrics. A traced run also calls the other operation kinds (ingest
  * for a whole episode), so every layer has spans on every workload.
  */
final class Bench(wl: Workloads.Workload, in: Gen.Inputs, cores: Int,
    seconds: Int, traced: Boolean, work: File) {

  private var spark: SparkSession = _
  private val tr = new Tracer(spark.sparkContext)
  private var listener: GroupListener = _

  // ---- outcome bookkeeping ----------------------------------------------
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private def layerValue(k: String, v: Double): Unit =
    if (tr.enabled) layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures += what

  /** One operation's latency: its write part plus the read after it. */
  private def opSamples(kind: String, write: Double, read: Double): Unit = {
    sample(s"$kind.write_s", write)
    sample(s"$kind.read_s", read)
    sample(s"$kind.op_s", write + read)
  }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- state of the run ----------------------------------------------------
  private val spec = wl.spec
  private val outDir = new File(work, "out")
  private var baseDf: DataFrame = _
  private var baseIx: DedupIndex.Components = _
  private var ix: DedupIndex.Components = _
  private var table: String = _
  private var episode = 0
  private var batch = 0
  private var tallyN = 0L // rows and word sum the table must hold
  private var tallyWords = 0L
  private var exportSrc: DataFrame = _
  private var exportHash = 0L
  private val readPlan = mutable.ArrayBuffer.empty[(Double, Double)] // (chain, plan_s)
  private val scanFiles = in.corpusFiles(spec.scanFiles)
  /** The scan set as one Hadoop glob, for the SQL view's `path`. */
  private val scanGlob =
    in.path("corpus") + scanFiles.map(new File(_).getName).mkString("/{", ",", "}")

  private val docCols = Seq(col("doc_id"), col("lang"), col("source"), col("text"),
    col("meta.words").as("words"))

  private def reader(split: Boolean) = spark.read.format("graft.xml")
    .option("xml.schema.location", in.schemaDir)
    .option("xml.separator.tag", "doc")
    .option("xml.separator.tag.type", "docType")
    .option("mode", "DROPMALFORMED")
    .option("xml.splittable", split.toString)

  /** DataFrame construction resolves the XSD: the schema layer. */
  private def load(paths: Seq[String], split: Boolean = false): DataFrame =
    tr.span("xml.schema")(reader(split).load(paths: _*))

  /** Consumes every column, so no subtree can be pruned from the parse. */
  private def fullAgg(df: DataFrame): Row = {
    def n(c: String) = when(col(c).isNull, 0).otherwise(size(col(c)))
    df.select(count(lit(1)), sum("doc_id"), sum("meta.words"), sum(n("tag")),
      sum(n("link")), bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*)))
      .collect()(0)
  }

  private def checkFull(r: Row, t: Gen.Truth, what: String): Unit = {
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val want = (t.records, t.idSum, t.wordSum, t.tagCount, t.linkCount)
    check(got == want, s"$what: (count, id sum, word sum, tags, links) $got != $want")
  }

  // ---- operations ---------------------------------------------------------

  /** The paper's user story, one closed-loop operation: the XML dataset
    * scanned in full, pruned to one attribute, split, queried as a table,
    * and exported; the export is read back as the read-after-write.
    */
  private def scanSuite(): Unit = {
    val (r0, full) = secs {
      val df = load(scanFiles)
      tr.span("xml.scan_full")(fullAgg(df))
    }
    val (r1, pruned) = secs {
      val df = load(scanFiles)
      tr.span("xml.scan_pruned")(df.select(count(col("doc_id")), sum("doc_id")).collect()(0))
    }
    val (r2, split) = secs {
      val df = load(Seq(in.path("big/big.xml")), split = true)
      tr.span("xml.scan_split")(fullAgg(df))
    }
    val (rs, q) = secs(query())
    val out = new File(outDir, "export")
    val (_, w) = secs(tr.span("xml.write")(
      exportSrc.write.format("graft.xml").option("xml.separator.tag", "doc")
        .option("xml.root.tag", "corpus").mode("overwrite").save(out.getAbsolutePath)))
    val (back, read) = secs(fullAgg(reader(split = false).load(out.getAbsolutePath)))
    opSamples("scan_suite", full + pruned + split + q + w, read)
    sample("scan_suite.ratio", Gen.treeBytes(out).toDouble /
      in.corpusFiles(spec.exportFiles).map(new File(_).length).sum)
    layerValue("xml.scan_full.rec_s", in.scan.records / full)
    layerValue("xml.scan_pruned.rec_s", in.scan.records / pruned)
    layerValue("xml.scan_split.rec_s", in.big.records / split)
    layerValue("xml.write.rec_s", in.export.records / w)

    checkFull(r0, in.scan, "scan_full")
    check((r1.getLong(0), r1.getLong(1)) == ((in.scan.records, in.scan.idSum)),
      s"scan_pruned: (count, id sum) ${(r1.getLong(0), r1.getLong(1))}")
    checkFull(r2, in.big, "scan_split")
    checkQueries(rs)
    check(back.getLong(0) == in.export.records && back.getLong(5) == exportHash,
      s"xml export reads back to different rows (${back.getLong(0)} rows)")
  }

  private val minWords = (wl.spec.words._1 + wl.spec.words._2) / 2

  /** The fixed SQL set over a `USING graft.xml` view. */
  private def query(): Seq[Seq[Row]] = {
    tr.span("xml.schema")(spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW docs USING graft.xml OPTIONS (
         |path '${scanGlob}', `xml.schema.location` '${in.schemaDir}',
         |`xml.separator.tag` 'doc', `xml.separator.tag.type` 'docType',
         |mode 'DROPMALFORMED')""".stripMargin))
    tr.span("xml.query")(Seq(
      s"""SELECT lang, count(*) AS n, sum(meta.words) AS w FROM docs
         |WHERE doc_id > 0 AND meta.words >= $minWords GROUP BY lang""".stripMargin,
      """SELECT meta.author.country AS c, count(*) AS n, max(meta.published) AS p
        |FROM docs WHERE doc_id > 0 GROUP BY meta.author.country""".stripMargin,
      """SELECT t, count(*) AS n FROM docs LATERAL VIEW explode(tag) x AS t
        |WHERE doc_id > 0 GROUP BY t""".stripMargin,
      """SELECT s.region, count(*) AS n, sum(d.meta.words) AS w FROM docs d
        |JOIN sources s ON d.source = s.source WHERE d.doc_id > 0
        |GROUP BY s.region""".stripMargin)
      .map(q => spark.sql(q).collect().toSeq))
  }

  /** The SQL set's results against the generator's ground truth. */
  private def checkQueries(rs: Seq[Seq[Row]]): Unit = {
    val docs = in.scan.ids.map(in.docs)
    val byLang = docs.filter(_.words >= minWords).groupBy(_.lang)
      .map { case (l, ds) => l -> ((ds.size.toLong, ds.map(_.words.toLong).sum)) }
    val region = Gen.sources.toMap
    val byRegion = docs.groupBy(d => region(d.source))
      .map { case (r, ds) => r -> ((ds.size.toLong, ds.map(_.words.toLong).sum)) }
    def pairs(rows: Seq[Row]) = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    check(pairs(rs(0)) == byLang, s"query filter+agg by lang: ${pairs(rs(0))} != $byLang")
    check(rs(1).map(_.getLong(1)).sum == in.scan.records && rs(1).size <= Gen.countries.size,
      s"query group by nested field: ${rs(1)}")
    check(rs(2).map(_.getLong(1)).sum == in.scan.tagCount,
      s"query explode: ${rs(2).map(_.getLong(1)).sum} != ${in.scan.tagCount}")
    check(pairs(rs(3)) == byRegion, s"query join to parquet dimension: ${pairs(rs(3))} != $byRegion")
  }

  private def curate(): Unit = {
    val out = new File(outDir, "shards").getAbsolutePath
    val files = in.corpusFiles(spec.curateFiles)
    val t0 = System.nanoTime()
    if (!tr.enabled) {
      val docs = load(files).select(docCols.take(4): _*)
      val kept = Curation.curate(docs).join(docs.select("doc_id", "text"), "doc_id")
        .localCheckpoint()
      writeShards(kept, out)
    } else curateStaged(files, out)
    val write = (System.nanoTime() - t0) / 1e9
    val inBytes = files.map(f => new File(f).length).sum
    val outBytes = Gen.treeBytes(new File(out))
    sample("curate.ratio", outBytes.toDouble / inBytes)
    layerValue("pipeline.shards.bytes", outBytes)
    // survivors: a subset of the input, no two with the same normalized text
    val (ids, read) = secs(
      spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)))
    opSamples("curate", write, read)
    val input = in.curate.ids.toSet
    check(ids.forall(input.contains), "curate: output id not in input")
    check(ids.distinct.length == ids.length, "curate: duplicate output row")
    check(ids.map(in.docs(_).normMd5).distinct.length == ids.length,
      "curate: two survivors share a normalized-text md5")
    check(ids.nonEmpty && ids.length < input.size, s"curate: ${ids.length} survivors")
  }

  private def writeShards(kept: DataFrame, out: String): Unit =
    Sampling.packIntoShards(kept, wl.tokensPerShard)
      .join(kept.select("doc_id", "text"), "doc_id")
      .write.mode("overwrite").parquet(out)

  /** The traced curation: each stage's input is materialized first, so a
    * stage span covers that stage only.
    */
  private def curateStaged(files: Seq[String], out: String): Unit = {
    val docs = load(files).select(docCols.take(4): _*)
    val d0 = tr.span("xml.load")(docs.localCheckpoint())
    var rows = d0.count()
    def stage(name: String, in: DataFrame)(f: DataFrame => DataFrame): DataFrame =
      tr.span(name) {
        val o = f(in).localCheckpoint()
        val n = o.count()
        layerValue(s"$name.rows_in", rows); layerValue(s"$name.rows_out", n)
        check(n <= rows, s"curate funnel grows at $name: $rows -> $n")
        rows = n
        o
      }
    val s1 = stage("pipeline.lang", d0)(Curation.stageLang(_))
    val s2 = stage("pipeline.quality", s1)(Curation.stageQuality(_))
    val s3 = stage("pipeline.exact", s2)(Curation.stageExact(_))
    tr.span("functions.signatures")(DedupIndex.signatures(s3, "text", "doc_id")
      .select(sum(size(col("hv"))), bit_xor(col("sig")(0))).collect())
    val s4 = stage("pipeline.near", s3)(Curation.stageNear(_))
    tr.span("bench.probe") {
      val cand = candidates(DedupIndex.banded(DedupIndex.signatures(s3, "text", "doc_id")),
        None).count()
      val pairs = Dedup.nearDuplicatePairsMd5(s3, "text", "doc_id")
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val alive = s3.select("doc_id").collect().map(_.getLong(0)).toSet
      val want = in.planted.filter(p => p.jaccard >= 0.5 && alive(p.a) && alive(p.b))
      layerValue("pipeline.near.candidates", cand)
      layerValue("pipeline.near.verified", pairs.size)
      layerValue("pipeline.near.yield", if (cand == 0) 0.0 else pairs.size.toDouble / cand)
      if (want.nonEmpty)
        layerValue("pipeline.near.planted_recall",
          want.count(p => pairs((p.a min p.b, p.a max p.b))).toDouble / want.size)
    }
    val s5 = stage("pipeline.sample", s4)(Curation.stageSample(_))
    tr.span("pipeline.shards")(writeShards(
      s5.select("doc_id", "lang", "source").join(d0.select("doc_id", "text"), "doc_id")
        .localCheckpoint(), out))
  }

  /** LSH candidate pairs: bucket collisions before the Jaccard verify, as
    * DedupIndex forms them. `corpus` None means a self-join.
    */
  private def candidates(bands: DataFrame, corpus: Option[DataFrame]): DataFrame = {
    val left = corpus.getOrElse(bands).select(col("band"), col("bsig"), col("doc").as("a"))
    val right = bands.select(col("band"), col("bsig"), col("doc").as("b"))
    val j = left.join(right, Seq("band", "bsig"))
    (if (corpus.isEmpty) j.filter(col("a") < col("b")) else j.filter(col("a") =!= col("b")))
      .select("a", "b").distinct()
  }

  /** A fresh versioned table holding the base corpus, and the base index. */
  private def newEpisode(): Unit = {
    episode += 1
    table = new File(outDir, s"table-e${episode}").getAbsolutePath
    Versioned.commit(baseDf, table)
    ix = baseIx
    batch = 0
    tallyN = in.base.records
    tallyWords = in.base.wordSum
  }

  /** One ingest batch, then one read after its commit. */
  private def ingest(): Unit = {
    if (batch == spec.batches) newEpisode()
    val file = in.batchFile(batch)
    val truth = in.batches(batch)
    val t0 = System.nanoTime()
    val b = load(Seq(file)).select(docCols: _*)
    val hits = tr.span("pipeline.lookup")(
      DedupIndex.lookup(ix, b, "text", "doc_id").select("doc_new").collect())
    val drop = hits.map(_.getLong(0)).toSet
    val survivors = b.filter(!col("doc_id").isin(drop.toSeq: _*))
    val before = Gen.treeBytes(new File(table))
    val looked = ix
    tr.span("versioned.append")(Versioned.appendRows(survivors, table))
    ix = tr.span("pipeline.index_append")(
      DedupIndex.appendBatch(ix, survivors, "text", "doc_id"))
    val write = (System.nanoTime() - t0) / 1e9
    val appended = Gen.treeBytes(new File(table)) - before
    sample("ingest.ratio", appended.toDouble / new File(file).length)
    layerValue("versioned.append.bytes", appended)
    if (tr.enabled) tr.span("bench.probe") {
      val cand = candidates(DedupIndex.banded(DedupIndex.signatures(b, "text", "doc_id")),
        Some(looked.buckets)).count()
      layerValue("pipeline.lookup.candidates", cand)
      layerValue("pipeline.lookup.yield", if (cand == 0) 0.0 else hits.length.toDouble / cand)
    }
    in.exactCopies.filter(p => truth.ids.contains(p._1)).foreach { case (copy, orig) =>
      check(drop(copy), s"lookup missed exact copy $copy of base doc $orig")
    }
    val kept = truth.ids.filterNot(drop)
    tallyN += kept.size
    tallyWords += kept.map(in.docs(_).words.toLong).sum
    batch += 1

    val r0 = System.nanoTime()
    val r = tr.span("versioned.read") {
      val agg = Versioned.readLatest(spark, table).agg(count(lit(1)), sum("words"))
      agg.queryExecution.executedPlan
      val plan = (System.nanoTime() - r0) / 1e9
      val e0 = System.nanoTime()
      val row = agg.collect()(0)
      layerValue("versioned.read.plan_s", plan)
      layerValue("versioned.read.exec_s", (System.nanoTime() - e0) / 1e9)
      if (tr.enabled) readPlan += ((batch.toDouble, plan))
      row
    }
    opSamples("ingest", write, (System.nanoTime() - r0) / 1e9)
    check(r.getLong(0) == tallyN && r.getLong(1) == tallyWords,
      s"read after batch ${batch}: (rows, words) (${r.getLong(0)}, ${r.getLong(1)}) != " +
        s"tally (${tallyN}, ${tallyWords})")
  }

  /** The operation kinds; each workload loops on one of them. */
  private val kinds: Seq[(String, () => Unit)] =
    Seq("scan_suite" -> (() => scanSuite()), "curate" -> (() => curate()),
      "ingest" -> (() => ingest()))

  // ---- set-up -------------------------------------------------------------

  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      // the splittable scan fans the large file out over 2 splits per core
      .config("spark.sql.files.maxPartitionBytes",
        (new File(in.path("big/big.xml")).length / (2 * cores) + 1).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The parquet dimension, the base table's initial commit, the base index. */
  private def prepare(): Unit = {
    Gen.deleteTree(outDir)
    outDir.mkdirs()
    spark.createDataFrame(spark.sparkContext.parallelize(
      Gen.sources.map { case (s, r) => Row(s, r) }, 1),
      StructType(Seq(StructField("source", org.apache.spark.sql.types.StringType),
        StructField("region", org.apache.spark.sql.types.StringType))))
      .write.mode("overwrite").parquet(new File(outDir, "sources").getAbsolutePath)
    spark.read.parquet(new File(outDir, "sources").getAbsolutePath)
      .createOrReplaceTempView("sources")
    baseDf = load(in.corpusFiles(spec.baseFiles)).select(docCols: _*)
      .localCheckpoint()
    newEpisode()
    baseIx = DedupIndex.components(baseDf, "text", "doc_id")
    ix = baseIx
  }

  /** The export source: documents with every field, in memory. */
  private def stageExport(): Unit = {
    exportSrc = reader(split = false).load(in.corpusFiles(spec.exportFiles): _*)
      .localCheckpoint()
    exportHash = fullAgg(exportSrc).getLong(5)
  }

  /** Session, base commit and index build. */
  private def setupOnce(): Double = {
    val t0 = System.nanoTime()
    spark = session()
    prepare()
    (System.nanoTime() - t0) / 1e9
  }

  private def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A frozen pure-Spark job: drift of the host, not of the program. */
  private def control(): Double = {
    val (r, s) = secs(spark.range(0, 20000000L, 1, cores)
      .select(sum(xxhash64(col("id")) % 1000)).collect()(0).getLong(0))
    check(r != 0, "control job")
    s
  }

  /** Spark's built-in `xml` source on the same files (same-box reference).
    * Its DROPMALFORMED mode does not catch a bad numeric attribute, so the
    * id is read as a string and the malformed records filtered by cast.
    */
  private def builtinRate(): Double = {
    val graftSchema = reader(split = false).load(scanFiles: _*).schema
    val attrs = Set("doc_id", "lang", "source")
    val schema = StructType(graftSchema.fields.map(f =>
      if (attrs(f.name)) StructField("_" + f.name, org.apache.spark.sql.types.StringType)
      else f))
    val df = spark.read.format("xml").option("rowTag", "doc").schema(schema)
      .load(scanFiles: _*)
    val (r, s) = secs(df.select(count(expr("try_cast(_doc_id AS BIGINT)")),
      sum(expr("try_cast(_doc_id AS BIGINT)")),
      bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).collect()(0))
    check(r.getLong(0) == in.scan.records && r.getLong(1) == in.scan.idSum,
      s"built-in xml reference read ${r.getLong(0)} rows")
    in.scan.records / s
  }

  // ---- the run ------------------------------------------------------------

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], info: Map[String, Any])

  def run(): Result = {
    val start = System.nanoTime()
    def at() = (System.nanoTime() - start) / 1e9
    val setups = (0 until 3).map { rep =>
      if (rep > 0) stopSession()
      setupOnce()
    }
    val setupEnd = at()
    if (traced || wl.primary == "scan_suite") stageExport()

    val controls = mutable.ArrayBuffer.empty[Double]
    if (traced) {
      listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      controls ++= (0 until 3).map(_ => control())
    }

    // warm-up, neither sampled nor traced: calls of the workload's kind
    // (its latency still falls for a few calls while the JIT compiles) and,
    // in a traced run, one of each other kind, which the timed phase then
    // calls once more so every layer has spans on every workload
    val spent = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val count = mutable.Map.empty[String, Int].withDefaultValue(0)
    def runOp(kind: String, f: () => Unit): Unit = {
      attempted += 1
      val before = failures.size
      val (_, s) = secs {
        try tr.op("op." + kind)(f())
        catch { case e: Exception => failures += s"$kind: ${e.toString.take(300)}" }
      }
      spent(kind) += s; count(kind) += 1
      if (failures.size > before) failed += 1
    }
    val (primary, others) = kinds.partition(_._1 == wl.primary)
    (Seq.fill(wl.warmUps)(primary.head) ++ (if (traced) others else Nil)).foreach {
      case (k, f) => runOp(k, f)
    }
    samples.clear()
    layer.clear()
    readPlan.clear()
    val warmEnd = at()

    tr.enabled = traced
    val before = if (traced) { org.apache.spark.perfbench.Drain(spark.sparkContext); snapshot() }
      else null
    // a fixed number of operations, about `seconds` of work on a 4-core
    // host: every run samples the same positions of the warm-up curve
    val n = math.max(3, math.round(seconds / wl.opSeconds).toInt)
    val firstOpSinceJvmStart = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    tr.span("bench.timed") {
      (1 to n).foreach(_ => runOp(primary.head._1, primary.head._2))
      // a whole episode of ingests fits the read-plan slope over every
      // chain length of the episode
      if (traced) others.foreach { case (k, f) =>
        (1 to (if (k == "ingest") spec.batches else 1)).foreach(_ => runOp(k, f))
      }
    }
    val timedWall = (System.nanoTime() - t0) / 1e9
    val timedEnd = at()
    tr.enabled = false

    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "checksum" -> in.checksum, "timed_wall_s" -> timedWall,
      "ops" -> count.toMap, "op_seconds" -> spent.toMap, "setup_reps_s" -> setups,
      "first_op_since_jvm_start_s" -> firstOpSinceJvmStart,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq })
    def series(k: String) = samples.getOrElse(s"${wl.primary}.$k", mutable.ArrayBuffer.empty[Double]).toSeq
    Seq("op_s", "write_s", "read_s").foreach { k =>
      val (v, p) = Stats.tail(series(k))
      info(s"${k}_tail") = Map("value" -> v, "percentile" -> p, "samples" -> series(k).size)
    }
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("op_p50_s", Stats.median(series("op_s")), "s"),
      ("out_bytes_per_in_byte", Stats.median(series("ratio")), "ratio"),
      ("heap_retained_mb", heapMb, "MB"))

    val metrics =
      if (!traced) e2e
      else {
        org.apache.spark.perfbench.Drain(spark.sparkContext)
        val after = snapshot()
        controls ++= (0 until 3).map(_ => control())
        val builtin = Stats.median((0 until 3).map(_ => builtinRate()))
        perLayer(before, after, timedWall, Stats.median(controls.toSeq), builtin, info, e2e)
      }
    info("failures") = failures.take(20).toSeq
    stopSession()
    info("phase_ends_s") = Map("setup" -> setupEnd, "warm_up" -> warmEnd, "timed" -> timedEnd,
      "end" -> at())
    Result(failures.isEmpty && failed == 0, attempted, failed, metrics, info.toMap)
  }

  private def snapshot(): (Long, Long, Long, Long, Long, Long) = {
    val t = listener.total
    (t.jobs, t.cpuNs, t.shuffleBytes, t.gcMs, listener.xmlParsed, listener.xmlDropped)
  }

  // ---- per-layer metrics from the spans and the listener ------------------

  private def perLayer(before: (Long, Long, Long, Long, Long, Long),
      after: (Long, Long, Long, Long, Long, Long), timedWall: Double, controlS: Double,
      builtinRate: Double, info: mutable.Map[String, Any],
      e2e: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val self = tr.selfSeconds
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def groupOf(s: Span) = listener.byGroup.getOrElse(s.id.toString, new Counters)
    Workloads.layerSpans.foreach { name =>
      val ss = tr.spans.filter(_.name == name).toSeq
      val n = ss.size.max(1).toDouble
      out += ((s"$name.wall_s", ss.map(_.seconds).sum / n, "s"))
      out += ((s"$name.self_s", ss.map(s => self(s.id)).sum / n, "s"))
      if (!Workloads.driverOnlySpans(name)) {
        val gs = ss.map(groupOf)
        out += ((s"$name.jobs", gs.map(_.jobs).sum / n, "count"))
        out += ((s"$name.tasks", gs.map(_.tasks).sum / n, "count"))
        out += ((s"$name.cpu_s", gs.map(_.cpuNs).sum / n / 1e9, "s"))
        if (Workloads.shuffleSpans(name))
          out += ((s"$name.shuffle_bytes", gs.map(_.shuffleBytes).sum / n, "bytes"))
      }
    }
    val skews = tr.spans.filter(_.name == "xml.scan_split").map { s =>
      val ms = groupOf(s).taskMs.map(_.toDouble).toSeq
      if (ms.isEmpty) 0.0 else ms.max / Stats.median(ms).max(1.0)
    }
    out += (("xml.scan_split.task_skew", Stats.mean(skews.toSeq), "ratio"))
    out += (("xml.records_parsed", (after._5 - before._5).toDouble, "count"))
    out += (("xml.records_dropped", (after._6 - before._6).toDouble, "count"))
    def lv(k: String, unit: String) = out += ((k, Stats.mean(layer.getOrElse(k, Nil).toSeq), unit))
    Seq("scan_full", "scan_pruned", "scan_split", "write").foreach(k => lv(s"xml.$k.rec_s", "records/s"))
    out += (("xml.ref_builtin.rec_s", builtinRate, "records/s"))
    out += (("xml.full_vs_builtin",
      Stats.mean(layer.getOrElse("xml.scan_full.rec_s", Nil).toSeq) / builtinRate, "ratio"))
    Seq("lang", "quality", "exact", "near", "sample").foreach { st =>
      lv(s"pipeline.$st.rows_in", "count"); lv(s"pipeline.$st.rows_out", "count")
    }
    lv("pipeline.near.candidates", "count")
    lv("pipeline.near.verified", "count")
    lv("pipeline.near.yield", "ratio")
    lv("pipeline.near.planted_recall", "ratio")
    lv("pipeline.shards.bytes", "bytes")
    lv("pipeline.lookup.candidates", "count")
    lv("pipeline.lookup.yield", "ratio")
    lv("versioned.append.bytes", "bytes")
    lv("versioned.read.plan_s", "s")
    lv("versioned.read.exec_s", "s")
    out += (("versioned.read.plan_s_per_version", Stats.slope(readPlan.toSeq), "s"))
    out += (("spark.jobs", (after._1 - before._1).toDouble, "count"))
    out += (("spark.cpu_s", (after._2 - before._2) / 1e9, "s"))
    out += (("spark.shuffle_bytes", (after._3 - before._3).toDouble, "bytes"))
    out += (("spark.gc_s", (after._4 - before._4) / 1e3, "s"))
    out += (("host.control_s", controlS, "s"))
    // every second of the timed phase is some span's self time; the part
    // outside any layer span is the benchmark's own glue and checks
    val layerSelf = tr.spans.filter(s => Workloads.layerSpans.contains(s.name))
      .map(s => self(s.id)).sum
    val unattributed = timedWall - layerSelf
    out += (("trace.unattributed_s", unattributed, "s"))
    info("trace_sum") = Map("timed_wall_s" -> timedWall, "layer_self_s" -> layerSelf,
      "unattributed_s" -> unattributed, "all_spans_self_s" -> self.values.sum)
    info("traced_e2e") = e2e.map(m => m._1 -> m._2).toMap
    info("spans") = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
      "self_s" -> self(s.id))).toSeq
    out.toSeq
  }
}
