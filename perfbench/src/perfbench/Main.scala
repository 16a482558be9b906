package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload <xml_scan|curate|incremental> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --cores <n> --build <id> [--gen-only]
  * }}}
  *
  * Generates the workload's inputs from the seed under `<work>/<workload>`,
  * runs it, and prints one JSON object as the last stdout line:
  * end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
  * Result and trace files go to `<work>/results`, named by workload, seed,
  * build id (a hash of the compiled sources) and trace flag. `--gen-only`
  * writes the inputs, prints their checksum and exits.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--gen-only").map(_.drop(2) -> "1")
    def req(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads(req("workload"))
    val seed = req("seed").toLong
    val work = new File(req("work")).getAbsoluteFile
    val runDir = new File(work, wl.name)

    val (in, genS) = {
      val t0 = System.nanoTime()
      val in = Gen.generate(new File(runDir, "input"), wl.spec, seed)
      (in, (System.nanoTime() - t0) / 1e9)
    }
    println(s"# inputs ${wl.name} seed=$seed checksum=${in.checksum} " +
      f"gen_s=$genS%.2f " + Json(inputSummary(in)))
    if (opts.contains("gen-only")) return

    val traced = req("trace") == "1"
    val bench = new Bench(wl, in, req("cores").toInt, req("seconds").toInt, traced,
      new File(runDir, "run"))
    val r = try bench.run() finally Gen.deleteTree(new File(runDir, "input"))

    val results = new File(work, "results"); results.mkdirs()
    val build = req("build")
    def tag(t: Int) = s"${wl.name}-seed$seed-build$build-trace$t"
    // process start to first timed op, as if set up once: without the
    // input generation and the repeated set-ups that give setup_s its median
    val reps = r.info("setup_reps_s").asInstanceOf[Seq[Double]]
    val coldSetup = r.info("first_op_since_jvm_start_s").asInstanceOf[Double] - genS - reps.tail.sum
    val info = r.info ++ Map("seed" -> seed, "build" -> build, "inputs" -> inputSummary(in),
      "metrics" -> r.metrics.map(m => m._1 -> m._2).toMap) ++
      (if (traced) Map("tracing_overhead" -> overhead(new File(results, s"${tag(0)}.json"), r.info))
       else Map("setup_cold_s" -> coldSetup))
    Files.write(new File(results, s"${tag(if (traced) 1 else 0)}.json").toPath,
      Json(info).getBytes(UTF_8))
    r.info.get("failures").foreach(f => System.err.println(s"# failures: $f"))
    Seq("op_s_tail", "write_s_tail", "read_s_tail", "ops", "setup_reps_s", "phase_ends_s").foreach { k =>
      println(s"# $k: ${Json(r.info(k))}")
    }
    if (!traced) println(f"# setup_cold_s: $coldSetup%.3f (process start to first timed op, " +
      "without input generation and the two repeated set-ups)")
    else println(s"# tracing_overhead: ${Json(info("tracing_overhead"))}")
    val metrics = r.metrics.map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u)
    }
    println(Json(scala.collection.immutable.ListMap("correct" -> r.correct,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }

  /** Tracing overhead: each end-to-end value of this traced run divided by
    * the one of the untraced run with the same workload, seed and build,
    * whose result file is `untraced`; without that run, a note saying so.
    */
  private def overhead(untraced: File, info: Map[String, Any]): Any = {
    if (!untraced.isFile)
      return s"none: no untraced run of this seed and build (${untraced.getName})"
    val traced = info("traced_e2e").asInstanceOf[Map[String, Double]]
    val text = new String(Files.readAllBytes(untraced.toPath), UTF_8)
    val base = traced.keys.flatMap { k =>
      s""""$k": ([-0-9.eE]+)""".r.findFirstMatchIn(text.split("\"metrics\"").last)
        .map(m => k -> m.group(1).toDouble)
    }.toMap
    Map("untraced_file" -> untraced.getName,
      "traced_over_untraced" -> base.collect { case (k, b) if b != 0 => k -> traced(k) / b })
  }

  def inputSummary(in: Gen.Inputs): Map[String, Any] = {
    val s = in.spec
    val js = in.planted.map(_.jaccard)
    Map(
      "corpus_records" -> in.corpus.records, "corpus_bytes" -> in.corpus.bytes,
      "corpus_files" -> s.files, "malformed_records" -> (in.corpus.malformed + in.big.malformed),
      "record_bytes_mean" -> in.corpus.bytes / in.corpus.records.max(1),
      "text_words" -> Seq(s.words._1, s.words._2),
      "nesting" -> "doc{@doc_id,@lang,@source,title,text,meta{published,score,words,author{name,country}},tag*,link*{href,rank}}",
      "tags_max" -> s.tagsMax, "links_max" -> s.linksMax,
      "big_file_records" -> in.big.records, "curate_records" -> in.curate.records,
      "base_records" -> in.base.records,
      "exact_dup_share" -> in.exactInCorpus.toDouble / in.corpus.records.max(1),
      "spam_share" -> in.spam.toDouble / in.corpus.records.max(1),
      "near_dup_clusters" -> in.clusterSizes.size,
      "near_dup_cluster_sizes" -> in.clusterSizes.groupBy(identity).map { case (k, v) => k.toString -> v.size },
      "near_dup_jaccard_mean" -> Stats.mean(js.toSeq),
      "near_dup_jaccard_min" -> js.minOption.getOrElse(0.0),
      "lang_mix" -> in.langCount.toMap,
      "batch_docs" -> s.batchDocs, "batches_per_episode" -> s.batches,
      "batch_exact_copies" -> in.exactCopies.size)
  }
}
