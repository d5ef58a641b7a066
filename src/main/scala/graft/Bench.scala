package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Uses the noop sink so Catalyst cannot prune the
  * computed columns a bare count() would skip — each query is fully
  * materialized.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // pin the JSON decimal separator — f"%.3f" is default-locale dependent,
    // and a comma-decimal locale would emit unparseable "0,993"
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("WARN")
    // single-section mode for local iteration on the structural probes
    // (driver runs never set this): print just that section and exit
    sys.env.get("SPARK_GRAFT_SECTION").foreach { sec =>
      val out = sec match {
        case "cosine_scale"  => cosineScaleBench(spark, sfDir)
        case "cluster_scale" => clusterScaleBench(spark)
        case "lpa_scale"     => lpaScaleBench(spark)
        case "icws_scale"    => icwsScaleBench(spark, sfDir)
        case "encoder_scale" => encoderScaleBench(spark, cpus.toInt)
        case "lake_plan"     => lakePlanBench(spark)
        case "csv_plan"      => csvPlanBench(spark)
        case "store_scale"   => storeScaleBench(spark)
        case other           => s"""{"err":"unknown section $other"}"""
      }
      println(s"""{"section":"$sec","value":$out}""")
      spark.stop()
      return
    }
    // one untimed warm-up (JIT, page cache, shared catalog persist) then
    // min-of-3 timed runs per query: two consecutive bench invocations on
    // this noisy shared box must agree, or the round-over-round perf
    // signal is meaningless
    // optional comma-separated subset for local iteration (driver sets none)
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    // a query that ERRORED in any run must be named in the artifact, not
    // silently timed: w_components failed-to-converge at sf0.1 for
    // several rounds and every BENCH file recorded a plausible-looking
    // wall for it (the failure only ever reached stderr)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // stderr marker so Spark warnings in the log attribute to a query
      System.err.println(s"[bench] running $name")
      def once(): Double = {
        // every sample starts memo-cold: a plan-canonicalization change
        // must never turn a timing into a router-memo cache hit (the
        // memo is a REAL product feature for τ-tuning callers; the bench
        // measures the recompute path)
        graft.search.TextSearch.clearRouterMemo()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up, untimed
      // force a collection BETWEEN queries, outside the timed window: a
      // composite 70+-query run accumulates enough heap that a full GC
      // pause lands inside some query's all-three samples and misreports
      // it at a multiple of its isolated cost (round-5 postmortem:
      // ann_cosine_topk read 6x its isolated time)
      System.gc()
      name -> (1 to 3).map(_ => once()).min
    }
    val total = results.map(_._2).sum
    def entry(kv: (String, Double)): String = "\"" + kv._1 + f"""\":${kv._2}%.3f"""
    val fullQs = results.map(entry).mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val artifactPath = java.nio.file.Paths.get(sys.props("user.dir"),
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_FULL.json")
    // The ARTIFACT and the COMPACT LINE go out IMMEDIATELY after the
    // query suite — they are the parse contract with the harness that
    // collects this run, and nothing optional may run before them
    // (round-13 postmortem: the suite finished but the in-run scale
    // probes + isolated forks blew the collector's time budget, the
    // compact line was never printed, and the whole round's bench signal
    // was lost as rc=124/parsed:null). Everything heavier — lake/CSV
    // structural plans, cosine/encoder scale probes, fresh-JVM isolated
    // re-runs — is gated behind SPARK_GRAFT_SCALE_PROBES=1, which only
    // the builder's own (self-budgeted) run sets, and writes to its own
    // BENCH_PROBES.json; the collector's run never sets it and never
    // touches that file.
    def writeArtifact(): Unit =
      java.nio.file.Files.write(artifactPath,
        (f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$failedJson,"queries":$fullQs,"sf":"$sfDir"}""" + "\n")
          .getBytes("UTF-8"))
    // Full per-query detail goes to a FILE: the harness that collects this
    // run keeps only the last ~2000 chars of stdout, and at 90+ queries the
    // full line no longer fits (round-6 postmortem: the recorded line was
    // truncated mid-JSON and unparseable). stdout gets a compact line —
    // the slowest queries first, cut to a hard length budget — so the
    // one-line contract always parses; the file carries everything.
    // a filtered (SPARK_GRAFT_QUERIES) iteration run must not clobber the
    // full-run detail file that earlier compact lines point to
    writeArtifact()
    val slowestFirst = results.sortBy(-_._2).map(entry)
    // chars for the queries map: overhead + the collector's trailing sbt
    // status line still fit inside 2000. Stop at the FIRST entry that
    // doesn't fit so `kept` is a strict slowest-first prefix and
    // "omitted_fastest" labels what it claims.
    val budget = 1400
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 2 // braces
    var full_ = false
    for (e <- slowestFirst) {
      if (!full_ && used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
      else full_ = true
    }
    val qs = kept.mkString("{", ",", "}")
    val omitted = results.size - kept.size
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","nq":${results.size},"n_failed":${failed.size},"failed":$failedJson,"omitted_fastest":$omitted,"detail":"BENCH_FULL.json","queries":$qs,"sf":"$sfDir"}""")
    System.out.flush()
    // ---- env-gated scale probes (builder self-runs only) ----
    // Probes write their OWN artifact (BENCH_PROBES.json), never
    // BENCH_FULL.json: the collector regenerates BENCH_FULL.json at
    // end-of-round from a probe-less run, which in round 15 silently
    // destroyed the committed cluster_scale/cosine_scale/lake_plan/
    // encoder_scale/bench_isolated evidence. A separate file the
    // collector never writes survives the regen.
    val probes = sys.env.get("SPARK_GRAFT_SCALE_PROBES").contains("1")
    if (probes && only.isEmpty) {
      System.err.println("[bench] scale probes enabled — writing BENCH_PROBES.json")
      val lp = lakePlanBench(spark)
      val cp = csvPlanBench(spark)
      val cs = cosineScaleBench(spark, sfDir)
      val xs = clusterScaleBench(spark)
      val ls = lpaScaleBench(spark)
      val is = icwsScaleBench(spark, sfDir)
      val es = encoderScaleBench(spark, cpus.toInt)
      // isolated re-runs LAST: each forks a fresh JVM, so nothing this
      // session did (heap, codegen cache, GC debt) can contaminate them
      val (iso, isoFailed) = isolatedBench(results, sfDir, cpus)
      // the worst in-suite/isolated ratio (1.0 = composite suite
      // position added nothing); lives in the artifact, stdout already
      // closed its one-line contract above
      val isoRatio = {
        val suite = results.toMap
        val re = """"([^"]+)":([0-9.]+)""".r
        val ratios = re.findAllMatchIn(iso).flatMap(m =>
          suite.get(m.group(1)).map(s => s / math.max(m.group(2).toDouble, 1e-9))).toSeq
        if (ratios.isEmpty) "null" else f"${ratios.max}%.2f"
      }
      val probesPath = java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_PROBES.json")
      java.nio.file.Files.write(probesPath,
        (f"""{"suite_total":$total%.3f,"suite_nq":${results.size},"sf":"$sfDir","lake_plan":$lp,"csv_plan":$cp,"cosine_scale":$cs,"cluster_scale":$xs,"lpa_scale":$ls,"icws_scale":$is,"encoder_scale":$es,"bench_isolated":$iso,"bench_isolated_failed":$isoFailed,"isolated_max_suite_ratio":$isoRatio}""" + "\n")
          .getBytes("UTF-8"))
      System.err.println("[bench] scale-probe sections written to BENCH_PROBES.json")
    }
    spark.stop()
  }

  /** Structural benchmark for the unified lake profiler: planning +
    * scheduling cost vs table count. The per-table loop pays an N-branch
    * union plan and ≥2 jobs per table; the unified path plans ONE
    * fixed-shape job. Tables are tiny (50 rows), so the measured time IS
    * driver overhead — the dimension that kills the loop at the
    * reference's 40k-table corpora. Reported separately from `queries`
    * (not part of the round-over-round total).
    *
    * The LOOP arms deliberately measure the anti-pattern (a 40-branch
    * union plan serialized per task → 10+ MiB task binaries); their
    * known "broadcasting large task binary" warnings are suppressed via
    * [[quietly]] so the bench log's warning stream speaks only about the
    * ENGINE's plans — which stay under Spark's 1 MiB warning threshold
    * even at 400 tables.
    */
  private def lakePlanBench(spark: SparkSession): String = {
    val dir = "/tmp/graft_bench_microlake"
    val nBig = 400
    val nSmall = 40
    val names = (0 until nBig).map(i => f"t$i%04d")
    ensureMicroLake(spark, dir, names)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    import graft.profile.Profiler
    import graft.sources.LakeScan
    def unified(ts: Seq[String]): Unit = {
      val scan = LakeScan.scanLake(spark, dir, ts, None)
      run(Profiler.profileFromLong(LakeScan.renderLong(scan.cells)))
      scan.release()
    }
    // warm both paths on a 3-table slice (JIT, codegen cache)
    run(Profiler.profileLake(spark, dir, names.take(3)))
    unified(names.take(3))
    // this section runs AFTER the 70-query bench in the same JVM: force a
    // collection first and take min-of-2 on the cheap unified runs, or a
    // full-heap GC pause lands inside one timed run and reads as a 15×
    // "regression" (observed: 33 s for a 2 s measurement)
    def timed2(f: => Unit): Double = { System.gc(); math.min(time(f), time(f)) }
    val loop40 = { System.gc();
      quietly(spark)(time(run(Profiler.profileLake(spark, dir, names.take(nSmall))))) }
    val uni40 = timed2(unified(names.take(nSmall)))
    val uni400 = timed2(unified(names))
    f"""{"tables_small":$nSmall,"tables_big":$nBig,"loop_${nSmall}":$loop40%.3f,"unified_${nSmall}":$uni40%.3f,"unified_${nBig}":$uni400%.3f}"""
  }

  /** Catalog-store cost vs table count (40, TUS-SANTOS's 1,127, 10,000):
    * per size, the `SketchStore.writeParquet` wall and the files it
    * wrote, three interactive union searches (`readParquet` +
    * `searchUnionable(…, k = 10).collect()`, each reading the store
    * afresh), and one 5-table `upsertParquet`. Catalogs are synthetic
    * ([[syntheticCatalog]]), checkpointed before the write so only the
    * store is timed. Selected with `SPARK_GRAFT_SECTION=store_scale`.
    */
  private def storeScaleBench(spark: SparkSession): String = {
    import graft.store.SketchStore
    import graft.search.Discovery
    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def parquetFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    def list(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    Seq(40, 1127, 10000).map { n =>
      val path = s"/tmp/graft_bench_store_scale/catalog_$n"
      val catalog = syntheticCatalog(spark, n).localCheckpoint(eager = true)
      System.gc()
      val write = secs(SketchStore.writeParquet(catalog, path))
      val files = parquetFiles(new java.io.File(path))
      val searches = Seq(0, n / 3, 2 * n / 3).map(t => secs(
        Discovery.searchUnionable(SketchStore.readParquet(spark, path), f"t$t%05d", 10)
          .collect()))
      val grown = (0 until 5).map(i => f"t${i * n / 5}%05d")
      val upsert = secs(SketchStore.upsertParquet(
        catalog.filter(col("table_name").isin(grown: _*))
          .withColumn("rows", col("rows") + 1), path))
      f"""{"tables":$n,"write_s":$write%.3f,"files":$files,"read_search_s":${list(searches)},"upsert5_s":$upsert%.3f}"""
    }.mkString("[", ",", "]")
  }

  /** A synthetic profile catalog: `tables` tables × `cols` columns in the
    * profile schema, each column a re-keyed copy of one profiled string
    * column with its own 100-slot exact-value digest. Slots take one of
    * 8 values, so any two columns agree on about an eighth of them; tables
    * whose index agrees mod 97 share their digests, and columns `c` and
    * `c + 4` of a table are equal, so a union search meets many exact
    * ties. */
  private[graft] def syntheticCatalog(spark: SparkSession, tables: Int,
                                     cols: Int = 8): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val template = graft.profile.Profiler.profile(
      (1 to 20).map(i => s"v$i words").toDF("txt"), "template")
    spark.range(tables.toLong * cols)
      .select((col("id") / cols).cast("long").as("t"), (col("id") % cols).as("c"))
      .crossJoin(template.drop("table_name", "col_idx", "col_name", "minhash_exact"))
      .withColumn("table_name", format_string("t%05d", col("t")))
      .withColumn("col_idx", col("c").cast(template.schema("col_idx").dataType))
      .withColumn("col_name", concat(lit("c"), col("c")))
      .withColumn("minhash_exact", transform(sequence(lit(0), lit(99)),
        slot => pmod(xxhash64(col("t") % 97, col("c") % 4, slot), lit(8L))))
      .select(template.columns.toIndexedSeq.map(col): _*)
  }

  /** Run `f` with Spark logging at ERROR, restoring WARN after — used
    * ONLY around the deliberate per-table-LOOP comparison arms, whose
    * 10+ MiB task binaries are the measured anti-pattern, not an engine
    * plan defect worth a warning line per stage. */
  private def quietly[A](spark: SparkSession)(f: => A): A = {
    spark.sparkContext.setLogLevel("ERROR")
    try f finally spark.sparkContext.setLogLevel("WARN")
  }

  /** Structural benchmark for the CSV ingest arm: per-file driver loop
    * (robust read + profile per file — the pre-round-6 SketchBuild shape)
    * vs the single-job executor-side decode, at 40 and 400 files. Same
    * rationale as [[lakePlanBench]]: tiny files, so the measurement IS
    * driver/scheduling cost — the dimension that makes a 40k-file CSV
    * lake a ~80k-sequential-job ingest under the loop.
    */
  private def csvPlanBench(spark: SparkSession): String = {
    import graft.sources.{CsvScan, LakeScan}
    import graft.profile.Profiler
    import graft.ingest.RobustCsv
    val dir = "/tmp/graft_bench_microcsvlake"
    val nBig = 400
    val nSmall = 40
    val files = ensureCsvMicroLake(dir, nBig)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def loop(fs: Seq[String]): Unit =
      run(fs.map { p =>
        val n = p.split('/').last.stripSuffix(".csv")
        Profiler.profile(RobustCsv.read(spark, p).get, n)
      }.reduce(_ unionByName _))
    def unified(fs: Seq[String]): Unit = {
      val scan = CsvScan.scanLake(spark, CsvScan.tableNames(fs))
      run(Profiler.profileFromLong(LakeScan.renderLong(scan.cells)))
      scan.release()
    }
    // warm both paths (JIT, codegen cache) on a 3-file slice
    loop(files.take(3)); unified(files.take(3))
    def timed2(f: => Unit): Double = { System.gc(); math.min(time(f), time(f)) }
    val loop40 = { System.gc(); quietly(spark)(time(loop(files.take(nSmall)))) }
    val uni40 = timed2(unified(files.take(nSmall)))
    val uni400 = timed2(unified(files))
    f"""{"files_small":$nSmall,"files_big":$nBig,"loop_${nSmall}":$loop40%.3f,"unified_${nSmall}":$uni40%.3f,"unified_${nBig}":$uni400%.3f}"""
  }

  /** bench_isolated: re-run the slowest `SPARK_GRAFT_ISOLATED_N`
    * (default 15) queries each in a FRESH JVM + SparkSession, so the
    * committed artifact itself answers "is that regression real or
    * suite-position noise?" — a 214-query composite accumulates heap and
    * GC debt that lands inside some query's samples and misreports it at
    * a multiple of its isolated cost, and min-of-3 + between-query GC
    * does not fully insulate it. The child is this same main with
    * SPARK_GRAFT_QUERIES=<name> (which already runs warm-up + min-of-3
    * and skips the structural sections); its JVM gets the parent's exact
    * flags and classpath (sbt forks `run`, so both are real). A child
    * that fails, times out, or REPORTS ITS QUERY IN ITS OWN `failed`
    * LIST lands in the returned failed array, never in the timing map —
    * a failed child's wall is the time-to-throw, not a measurement
    * (round-13 postmortem: a broken d_cosine_auto child recorded 0.014 s
    * against a 2.2 s clean run — the same masquerade class the in-suite
    * `failed` list was built to kill, one layer down). */
  private def isolatedBench(results: Seq[(String, Double)],
                            sfDir: String, cpus: String): (String, String) = {
    val n = sys.env.get("SPARK_GRAFT_ISOLATED_N").map(_.toInt).getOrElse(15)
    if (n <= 0) return ("{}", "[]")
    val names = results.sortBy(-_._2).take(n).map(_._1)
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = sys.props("java.class.path")
    val isoFailed = scala.collection.mutable.LinkedHashSet.empty[String]
    val entries = names.flatMap { name =>
      System.err.println(s"[bench] isolated re-run: $name")
      val outcome: Either[String, (String, Double)] = try {
        val dir = java.nio.file.Files.createTempDirectory("graft_bench_iso_")
        val pb = new ProcessBuilder(
          (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava)
        pb.directory(dir.toFile)
        pb.redirectErrorStream(true)
        pb.redirectOutput(dir.resolve("child.log").toFile)
        val env = pb.environment()
        env.put("SPARK_GRAFT_QUERIES", name)
        env.put("SPARK_GRAFT_SF_DIR", sfDir)
        env.put("SPARK_GRAFT_CPUS", cpus)
        val p = pb.start()
        val done = p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) { p.destroyForcibly(); p.waitFor(); Left("timeout") }
        else {
          val f = dir.resolve("BENCH_SUBSET.json")
          if (!java.nio.file.Files.exists(f)) Left("no artifact")
          else parseIsolatedChild(name,
            new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
            .map(name -> _)
        }
      } catch { case e: Exception => Left(e.toString) }
      outcome match {
        case Left(why) =>
          System.err.println(s"[bench] isolated $name FAILED: $why")
          isoFailed += name
          None
        case Right(kv) => Some(kv)
      }
    }
    if (isoFailed.nonEmpty)
      System.err.println(s"[bench] isolated: ${isoFailed.size} of " +
        s"${names.size} children failed: ${isoFailed.mkString(", ")}")
    (entries.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}"),
      isoFailed.map("\"" + _ + "\"").mkString("[", ",", "]"))
  }

  /** Interpret one isolated child's BENCH_SUBSET.json for `name`:
    * Left(reason) when the child reports the query in its own `failed`
    * list or carries no timing for it; Right(seconds) only for a clean
    * measurement. Package-visible so the masquerade contract is
    * spec-pinned without forking JVMs (BenchParseSpec). */
  private[graft] def parseIsolatedChild(
      name: String, subsetJson: String): Either[String, Double] = {
    val failedRe = """"failed":\[([^\]]*)\]""".r
    val childFailed = failedRe.findFirstMatchIn(subsetJson)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSet
    if (childFailed.contains(name))
      Left("child reported the query failed (wall would be time-to-throw)")
    else {
      val re = ("\"" + java.util.regex.Pattern.quote(name) + "\":([0-9.]+)").r
      // search only the queries map so a same-named key in another
      // section can never be mistaken for the timing
      val qmap = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(subsetJson)
        .map(_.group(1)).getOrElse(subsetJson)
      re.findFirstMatchIn(qmap).map(_.group(1).toDouble)
        .toRight("child artifact carries no timing for the query")
    }
  }

  /** encoder_scale: pure-JVM [[graft.ml.OnnxSession]] throughput at
    * BERT-class dims — hidden 768, 12 heads, FFN 3072, seq 128 and 512 —
    * the shape a real fine-tuned checkpoint has (vs the oracle fixtures'
    * toy S=4..6, D=4). One layer is exported and timed per doc; a full
    * 12-layer forward is 12× that (layers are identical blocks), and the
    * 32-core docs/sec extrapolation models the mapPartitions deployment
    * (one session per partition, embarrassingly parallel). The
    * extrapolation is CHECKED, not trusted: the same seq-512 model is
    * also driven through the actual deployment — `spark.range` →
    * repartition(cpus) → mapPartitions with one session per partition —
    * and the measured `docs_per_sec_1layer_seq512_measured_local<cpus>`
    * sits next to the modeled number so a divergence (scheduler
    * overhead, memory-bandwidth contention across 32 concurrent GEMMs)
    * is visible in the artifact. This is the measured basis for the
    * documented JNI-onnxruntime crossover at `Scorer.onnxModelFactory`. */
  private def encoderScaleBench(spark: SparkSession, cpus: Int): String = {
    import graft.ml.OnnxExport
    val (d, h, f) = (768, 12, 3072)
    val dh = d / h
    // small pseudo-random binary-fraction weights scaled ~1/√D: keeps
    // softmax/LayerNorm in range; values are irrelevant to timing
    def w3(seed: Int): Array[Array[Array[Double]]] =
      Array.tabulate(h, d, dh)((a, i, j) =>
        ((a * 31 + i * 17 + j * 7 + seed) % 9 - 4) * 0.00390625)
    def w2(r: Int, c: Int, seed: Int): Array[Array[Double]] =
      Array.tabulate(r, c)((i, j) => ((i * 13 + j * 11 + seed) % 9 - 4) * 0.00390625)
    def v1(len: Int, seed: Int): Array[Double] =
      Array.tabulate(len)(i => ((i * 5 + seed) % 7 - 3) * 0.015625)
    val layer = OnnxExport.EncoderLayer(
      wq = w3(1), wk = w3(2), wv = w3(3),
      wo = w2(d, d, 4), bo = v1(d, 5),
      g1 = Array.fill(d)(1.0), b1 = v1(d, 6),
      w1 = w2(d, f, 7), bf1 = v1(f, 8),
      w2 = w2(f, d, 9), bf2 = v1(d, 10),
      g2 = Array.fill(d)(1.0), b2 = v1(d, 11))
    def perDocMs(s: Int, docs: Int): Double = {
      val stack = OnnxExport.EncoderStack(s, d, h, f, Seq(layer),
        wHead = v1(d, 12), bHead = 0.125,
        attScale = 1.0 / math.sqrt(dh.toDouble), lnEps = 1e-5)
      val path = s"/tmp/graft_bench_encoder_${s}.onnx"
      OnnxExport.exportEncoderStack(stack, path)
      val sess = graft.ml.OnnxSession.load(path)
      def batch(k: Int): Array[Array[Double]] =
        Array.tabulate(k, s * d)((r, i) => ((r * 31 + i) % 17) * 0.0625 - 0.5)
      sess.run(batch(1)) // warm (JIT, transposed-weight cache)
      // min-of-5: single-run wall on this box swings ±30%, and this
      // number is the committed basis for the JNI-crossover claim
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        sess.run(batch(docs))
        (System.nanoTime() - t0) / 1e6 / docs
      }.min
    }
    val ms128 = perDocMs(128, 2)
    val ms512 = perDocMs(512, 1)
    // the reference-shaped model is 12 of this block; per-doc encode cost
    // is layers × per-layer (pooling/head are noise at these dims)
    val dps512 = cpus / (ms512 / 1000.0 * 12)
    val dps128 = cpus / (ms128 / 1000.0 * 12)
    // MEASURED deployment throughput at seq 512: the exported 1-layer
    // model driven through the real shape — range → repartition(cpus) →
    // mapPartitions, one session per partition, forward per doc. Inputs
    // are generated executor-side from the row id (driver-shipping 128
    // docs × 393k doubles would measure serialization, not inference).
    val s512 = 512
    val path512 = s"/tmp/graft_bench_encoder_${s512}.onnx"
    val nDocs = 4 * cpus
    import org.apache.spark.sql.Encoders
    def deployRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(nDocs).repartition(cpus)
        .mapPartitions { it =>
          // the SHARED per-JVM session, not one per partition: 32
          // concurrent per-partition loads stage ~5 GB of identical
          // BERT-base weights and OOM an 8 GB heap before any forward
          // runs (measured, round 14) — the deployment shape at
          // executor scale is one weight copy per JVM
          val sess = graft.ml.Scorer.sharedSession(path512)
          it.map { id =>
            val x = Array.tabulate(s512 * d)(i => ((id * 31 + i) % 17) * 0.0625 - 0.5)
            sess.run(Array(x))(0)
          }
        }(Encoders.scalaDouble)
        .reduce(_ + _) // force every forward; checksum defeats pruning
      (System.nanoTime() - t0) / 1e9
    }
    deployRun() // warm (per-thread JIT, page cache for the model file)
    val deployWall = math.min(deployRun(), deployRun())
    val measured1L = nDocs / deployWall
    val measured12L = measured1L / 12.0
    f"""{"d_model":$d,"heads":$h,"d_ff":$f,"layer_ms_seq128":$ms128%.1f,"layer_ms_seq512":$ms512%.1f,"docs_per_sec_12layer_seq128_${cpus}cores":$dps128%.2f,"docs_per_sec_12layer_seq512_${cpus}cores":$dps512%.2f,"deploy_docs":$nDocs,"docs_per_sec_1layer_seq512_measured_local$cpus":$measured1L%.2f,"docs_per_sec_12layer_seq512_implied_local$cpus":$measured12L%.2f}"""
  }

  /** cluster_scale: [[graft.operators.Dedup.resolveClusters]] at 10⁶
    * nodes — the scale evidence behind the "logarithmic rounds" claim
    * the 100 TB dedup story rests on (the correctness specs pin
    * convergence only to n=300). Two adversarial shapes:
    *  - PATH: consecutive ids chained pairwise (the sorted-id relation
    *    real near-dup corpora produce, and THE regression class of the
    *    r13 stranded-label bug) — worst case for region merging, since
    *    every round can at best halve the single path's region count;
    *  - MIXED: one hash-scattered edge per node (xxhash64 dst), a
    *    random functional graph whose components are many short
    *    cycle-trees — the many-small-clusters regime.
    * Reports contraction rounds (expect ≈log₂n for the path, far fewer
    * for mixed) and wall + component counts as a self-audit (the path
    * must resolve to exactly ONE component). */
  /** lpa_scale: labelPropagation (3 synchronous rounds) on the
    * cluster_scale-style mixed graph at 10⁵ and 10⁶ nodes — rounds are
    * FIXED by contract, so the scale claim is cost-per-round linearity:
    * the 10×-node wall should grow ~linearly (keyed edge joins + hash
    * aggregates, no pairing). Records walls, the wall ratio, and the
    * surviving label counts. */
  /** ICWS banding feature-space probe — artifact for the round-16 fix:
    * on this corpus's 31-token vocabulary, UNIGRAM tf·idf features make
    * a large fraction of all doc pairs collide in some band (quadratic
    * candidate blowup), while word-3-shingle features collapse the
    * candidate set to the true near-dup neighborhood. Reports candidate
    * counts + wall for both feature spaces at the bench SF. */
  private def icwsScaleBench(spark: SparkSession, sfDir: String): String = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    // banding-candidate count for a feature space (the blowup metric —
    // every candidate pays the exact verify)
    def candidates(shingle: Int): Long = {
      val wts = Dedup.idfWeights(docs, shingle = shingle)
        .localCheckpoint(eager = false)
      val bnd = Dedup.icwsSignatures(wts, 32)
        .withColumn("band", expr("k div 4"))
        .groupBy("id", "band")
        .agg(concat_ws("|", expr(
          "transform(array_sort(collect_list(struct(k, s_tok, s_tk)))," +
            " x -> concat(x.s_tok, '@', x.s_tk))")).as("bkey"))
        .localCheckpoint(eager = false)
      bnd.as("a").join(bnd.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
    }
    def run(shingle: Int): (Double, Long) = {
      System.gc()
      val t0 = System.nanoTime()
      val n = Dedup.icwsNearDups(docs, threshold = 0.7, shingle = shingle)
        .count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    run(3) // untimed warm-up: session codegen + parquet listing
    val (sShingle, nShingle) = run(3)
    val (sUni, nUni) = run(1)
    val cShingle = candidates(3)
    val cUni = candidates(1)
    f"""{"n_docs":$nDocs,"shingle3_cands":$cShingle,"shingle3_pairs":$nShingle,"shingle3_sec":$sShingle%.1f,"unigram_cands":$cUni,"unigram_pairs":$nUni,"unigram_sec":$sUni%.1f}"""
  }

  private def lpaScaleBench(spark: SparkSession): String = {
    def run(n: Long): (Double, Long) = {
      System.gc()
      val edges = spark.range(n)
        .select(col("id").as("src"),
          pmod(xxhash64(col("id"), lit("lpa_scale")), lit(n)).as("dst"))
        .filter(col("src") =!= col("dst"))
      val t0 = System.nanoTime()
      val labels = graft.operators.Graph.labelPropagation(edges, nIter = 3)
      val nLabels = labels.agg(count_distinct(col("label"))).head().getLong(0)
      ((System.nanoTime() - t0) / 1e9, nLabels)
    }
    run(10000L) // untimed warm-up: JIT + codegen, or the small run pays it
    val (s1, l1) = run(100000L)
    val (s2, l2) = run(1000000L)
    f"""{"n_small":100000,"small_sec":$s1%.1f,"small_labels":$l1,"n_big":1000000,"big_sec":$s2%.1f,"big_labels":$l2,"wall_ratio_10x":${s2 / math.max(s1, 1e-9)}%.1f}"""
  }

  private def clusterScaleBench(spark: SparkSession): String = {
    def run(edges: org.apache.spark.sql.DataFrame): (Int, Double, Long) = {
      System.gc()
      val t0 = System.nanoTime()
      val (labels, rounds) = graft.operators.Dedup.resolveClustersStats(edges)
      val ncomp = labels.agg(count_distinct(col("cluster"))).head().getLong(0)
      (rounds, (System.nanoTime() - t0) / 1e9, ncomp)
    }
    val n = 1000000L
    val path = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (pr, ps, pc) = run(path)
    val mixed = spark.range(n)
      .select(col("id").as("id_a"),
        pmod(xxhash64(col("id"), lit("cluster_scale")), lit(n)).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val (mr, ms, mc) = run(mixed)
    val log2n = math.log(n.toDouble) / math.log(2.0)
    f"""{"n":$n,"log2_n":$log2n%.1f,"path_rounds":$pr,"path_sec":$ps%.1f,"path_components":$pc,"mixed_rounds":$mr,"mixed_sec":$ms%.1f,"mixed_components":$mc}"""
  }

  /** cosine_scale: the exact cosine self-join probed at 1× and 10× the
    * sf documents corpus, on BOTH vocabulary regimes the router serves:
    *  - HOT (the raw documents table: one ~31-token vocabulary, the
    *    posting join's worst case) — blocked kernel + auto at both
    *    scales; the postings arm runs at 1× and is PROJECTED at 10×
    *    (candidates grow ∝ docs², measuring the wrong plan at 50k docs
    *    would dominate the whole bench — the skip is explicit, not
    *    silent);
    *  - ZIPF (tokens salted into ~50 shards each → a fat vocabulary,
    *    the regime postings is built for) — all three arms at both
    *    scales; postings here is the near-linear scale path.
    * Also records the auto-sized block count at each scale (autoBlocks
    * growing with the corpus is the kernel's bounded-task-size design)
    * and each regime's router decision. 10× rows are DISTINCT variants
    * (per-variant word dropout), not copies, so df/tf profiles scale the
    * way a real corpus grows. */
  private def cosineScaleBench(spark: SparkSession,
                               sfDir: String): String = {
    import graft.search.TextSearch
    val tau = 0.9
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    def tenX(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), lit(9L))).as("v"))
      .select((col("doc_id") * 10 + col("v")).as("doc_id"),
        concat_ws(" ", filter(split(col("text"), "\\s+"),
          t => pmod(xxhash64(t, col("v")), lit(3)) =!= 0)).as("text"))
    def zipfify(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col("doc_id"), concat_ws(" ",
        transform(split(col("text"), "\\s+"),
          t => concat(t, lit("_"), pmod(xxhash64(t, col("doc_id")), lit(50)))))
        .as("text"))
    def time(df: => org.apache.spark.sql.DataFrame): Double = {
      System.gc()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def wtdProfile(docs: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
      // same relation the router profiles: postings count, docs, Σdf²
      val tk = docs.select(col("doc_id").as("id"),
        explode(filter(split(lower(col("text")), "\\s+"), t => t =!= "")).as("term"))
        .groupBy("id", "term").count()
      val dfq = tk.groupBy("term").agg(count(lit(1)).as("df"))
      val prof = tk.join(dfq, "term")
        .agg(count(lit(1)), count_distinct(col("id")), sum("df")).head()
      (prof.getLong(0), prof.getLong(1), prof.getLong(2).toDouble)
    }
    // one untimed warm-up on a small slice: the FIRST timed arm must not
    // pay the one-time JIT/codegen cost for the whole plan family
    TextSearch.cosineSelfJoin(base.limit(50), tau)
      .write.format("noop").mode("overwrite").save()
    TextSearch.cosineSelfJoinPostings(base.limit(50), tau)
      .write.format("noop").mode("overwrite").save()
    val sections = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((regime, mk) <- Seq(
        ("hot", (d: org.apache.spark.sql.DataFrame) => d),
        ("zipf", zipfify _))) {
      for ((scaleTag, docs0) <- Seq(("1x", mk(base)), ("10x", tenX(mk(base))))) {
        val docs = docs0.localCheckpoint(true)
        val (p, nd, sumDf2) = wtdProfile(docs)
        val blocks = TextSearch.autoBlocks(nd, p)
        // STAGE-1 router verdict only (stage 2's prefix window ≈ running
        // the postings plan's prep); the timed `auto` arm runs the full
        // two-stage router, so its wall-time reflects the real decision
        val routed = if (TextSearch.routeToPostings(nd, sumDf2,
          Double.MaxValue)) "postings" else "blocked"
        val tb = time(TextSearch.cosineSelfJoin(docs, tau))
        val ta = time(TextSearch.cosineSimilarityJoin(docs, tau))
        // the wrong-regime postings arm at 10× is projected, not run:
        // candidate volume is ∝ docs² on the hot vocabulary
        val tp =
          if (regime == "hot" && scaleTag == "10x") -1.0
          else time(TextSearch.cosineSelfJoinPostings(docs, tau))
        val tpJson = if (tp < 0) "null" else f"$tp%.3f"
        sections += f""""${regime}_$scaleTag":{"docs":$nd,"blocks":$blocks,"router_stage1":"$routed","blocked":$tb%.3f,"postings":$tpJson,"auto":$ta%.3f}"""
        docs.unpersist()
      }
    }
    sections.mkString("{", ",", "}")
  }

  /** 50-row 4-column CSVs, one template copied N times (content is
    * irrelevant — this measures per-file DRIVER cost). */
  private def ensureCsvMicroLake(dir: String, n: Int): Seq[String] = {
    import java.nio.file._
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val content = ("id,name,val,flag" +:
      (0 until 50).map(i => s"$i,name$i,${i * 1.5},${if (i % 2 == 0) "y" else "n"}"))
      .mkString("", "\n", "\n")
    val paths = (0 until n).map(i => d.resolve(f"c$i%04d.csv"))
    paths.foreach { p =>
      if (!Files.exists(p)) Files.write(p, content.getBytes("UTF-8"))
    }
    paths.map(_.toString)
  }

  /** 50-row 4-column tables: one Spark-written template file, copied N
    * times (content is irrelevant — this measures per-table DRIVER cost).
    */
  private def ensureMicroLake(spark: SparkSession, dir: String,
                              names: Seq[String]): Unit = {
    import java.nio.file._
    val d = Paths.get(dir)
    if (Files.isDirectory(d) &&
      names.forall(n => Files.exists(d.resolve(s"$n.parquet")))) return
    import spark.implicits._
    val tpl = s"$dir/_template"
    (0 until 50).map(i => (i.toLong, s"name$i", i * 1.5, if (i % 2 == 0) "y" else "n"))
      .toDF("id", "name", "val", "flag")
      .coalesce(1).write.mode("overwrite").parquet(tpl)
    val part = Files.list(Paths.get(tpl)).iterator()
    val src = {
      var p: Path = null
      while (part.hasNext) { val f = part.next(); if (f.toString.endsWith(".parquet")) p = f }
      p
    }
    names.foreach { n =>
      Files.copy(src, d.resolve(s"$n.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
