package perfbench

/** The three workloads. Each loops on one primary operation kind over its
  * own inputs; the input shape and that kind make one layer dominate:
  *   - xml_scan:    wide nested records, short text; the scan suite (scans,
  *                  the SQL set, the XML export) (graft.xml)
  *   - curate:      1-2 KB documents with planted duplicates; curation to
  *                  parquet shards (graft.functions hashing, graft.pipeline
  *                  shuffles)
  *   - incremental: a base corpus plus 500-document batches; ingest (lookup,
  *                  append, index fold) and read-after-commit
  *                  (graft.pipeline.DedupIndex, graft.operators.Versioned)
  * Only a traced run calls the other kinds as well.
  *
  * The duplicate, near-duplicate, spam, malformed-record and language shares
  * in the specs are assumptions, not measured from a real corpus; they set
  * how much work the lang, exact, near and lookup stages do.
  */
object Workloads {

  /** `primary`: the operation kind the timed phase loops on; `warmUps`:
    * untimed calls of it first (the scan suite's latency keeps falling for
    * about five calls while the JIT compiles the parser); `opSeconds`: its
    * warm latency on a 4-core host, which sets how many operations a run of
    * `--seconds` times.
    */
  final case class Workload(name: String, spec: Gen.Spec, primary: String,
      warmUps: Int, opSeconds: Double, tokensPerShard: Int)

  val all: Seq[Workload] = Seq(
    Workload("xml_scan",
      Gen.Spec(files = 16, docsPerFile = 3000, words = (20, 60), tagsMax = 6, linksMax = 4,
        bigDocs = 30000, scanFiles = 16, curateFiles = 1, baseFiles = 2, exportFiles = 8,
        batchDocs = 250, batches = 8,
        exactShare = 0.05, nearShare = 0.02, clusterMax = 4, spamShare = 0.03,
        malformedEvery = 997),
      primary = "scan_suite", warmUps = 4, opSeconds = 2.7, tokensPerShard = 50000),
    Workload("curate",
      Gen.Spec(files = 4, docsPerFile = 1000, words = (170, 330), tagsMax = 2, linksMax = 1,
        bigDocs = 3000, scanFiles = 2, curateFiles = 4, baseFiles = 1, exportFiles = 1,
        batchDocs = 250, batches = 8,
        exactShare = 0.08, nearShare = 0.04, clusterMax = 4, spamShare = 0.04,
        malformedEvery = 1999),
      primary = "curate", warmUps = 2, opSeconds = 3.1, tokensPerShard = 200000),
    Workload("incremental",
      Gen.Spec(files = 6, docsPerFile = 2000, words = (120, 250), tagsMax = 2, linksMax = 1,
        bigDocs = 3000, scanFiles = 2, curateFiles = 1, baseFiles = 6, exportFiles = 1,
        batchDocs = 500, batches = 10,
        exactShare = 0.05, nearShare = 0.02, clusterMax = 3, spamShare = 0.03,
        malformedEvery = 1999),
      primary = "ingest", warmUps = 2, opSeconds = 1.6, tokensPerShard = 50000))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))

  /** Spans reported as per-layer metrics, each at a call into one layer. */
  val layerSpans: Seq[String] = Seq(
    "xml.schema", "xml.load", "xml.scan_full", "xml.scan_pruned", "xml.scan_split",
    "xml.query", "xml.write", "functions.signatures", "pipeline.lang",
    "pipeline.quality", "pipeline.exact", "pipeline.near", "pipeline.sample",
    "pipeline.shards", "pipeline.lookup", "pipeline.index_append", "versioned.append",
    "versioned.read")

  /** Spans that never run a Spark job: only their times are reported. */
  val driverOnlySpans: Set[String] = Set("xml.schema", "pipeline.index_append")

  /** Spans whose calls shuffle; the others always write 0 shuffle bytes. */
  val shuffleSpans: Set[String] = Set("xml.query", "pipeline.exact", "pipeline.near",
    "pipeline.shards", "pipeline.lookup", "versioned.read")
}
