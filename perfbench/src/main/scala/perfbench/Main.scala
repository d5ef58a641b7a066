package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import perfbench.LakeGen.{Lake, Shape, TableFacts}

/** A workload: the lake shape and the closed-loop operation stream one
  * client runs against it. Set-up first warms builds up (JIT, code
  * generation, first-use costs) with an untimed build of the small lake
  * `warmShape`. With `buildsInLoop`, it warms searches up on that lake
  * too, and each measured cycle is a cold build followed by
  * `searchesPerBuild` searches and one upsert on the fresh catalog.
  * Otherwise set-up then builds the catalog (timed) and warms searches and
  * an upsert up on it, and the stream is searches with an upsert after every
  * `searchesPerUpsert`. A run makes at least `minUpserts` upserts, however
  * long they take. */
final case class Workload(name: String, shape: Shape, warmShape: Shape,
                          buildsInLoop: Boolean, searchesPerBuild: Int,
                          searchesPerUpsert: Int, upsertTables: Int, minUpserts: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("build_many_small", LakeGen.ManySmall, LakeGen.ManySmallWarm, buildsInLoop = true,
      searchesPerBuild = 6, searchesPerUpsert = 0, upsertTables = 5, minUpserts = 1),
    Workload("build_few_wide", LakeGen.FewWide, LakeGen.FewWideWarm, buildsInLoop = true,
      searchesPerBuild = 15, searchesPerUpsert = 0, upsertTables = 1, minUpserts = 1),
    Workload("catalog_session", LakeGen.ManySmall, LakeGen.ManySmallWarm, buildsInLoop = false,
      // at least three upserts a run, so upsert_p50_ms is a median of three
      searchesPerBuild = 0, searchesPerUpsert = 3, upsertTables = 5, minUpserts = 3))
}

/** Timing and outcome of one operation. */
final case class OpResult(kind: String, wallNs: Long, traced: Boolean,
                          warmup: Boolean, op: Int, problems: Seq[String]) {
  def failed: Boolean = problems.nonEmpty
}

/** Runs one workload for a number of seconds and prints the result line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --run-dir <dir> --lake-root <dir> --out <file> */
object Main {
  val K = 10
  val Kinds: Vector[SearchKind] = Vector(UnionSearch, SubsetSearch, SnapshotSearch)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload.all.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}; " +
        s"one of ${Workload.all.map(_.name).mkString(", ")}"))
    val run = new Run(wl, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Paths.get(opt("run-dir")), Paths.get(opt("lake-root")))
    val out = try run.execute() finally run.stop()
    Files.write(Paths.get(opt("out")), out.artifact.getBytes("UTF-8"))
    System.err.println(out.table)
    println(out.line)
  }
}

final case class Outcome(line: String, artifact: String, table: String)

final class Run(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
                runDir: Path, lakeRoot: Path) {
  import Main.{K, Kinds}

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private val spark = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", runDir.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val recorder = if (trace) Some(new JobRecorder) else None
  recorder.foreach(spark.sparkContext.addSparkListener)
  private val plainTracer = new Tracer(None)
  private val tracedTracer = new Tracer(Some(spark.sparkContext))
  private val plainOps = new Ops(spark, plainTracer, materialize = false)
  private val tracedOps = new Ops(spark, tracedTracer, materialize = true)

  private val rng = new java.util.SplittableRandom(seed * 31 + 7)
  private val results = mutable.ArrayBuffer.empty[OpResult]
  private val perKindCount = mutable.HashMap.empty[String, Int]
  private val buildRates = mutable.ArrayBuffer.empty[Double]
  private val catalogRatios = mutable.ArrayBuffer.empty[Double]
  private val storeFiles = mutable.ArrayBuffer.empty[Double]
  private val storeBytes = mutable.ArrayBuffer.empty[Double]
  private val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
  /** (group mates in the answer, group mates) per union search */
  private val mateRecall = mutable.ArrayBuffer.empty[(Double, Double)]
  private val variants = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  /** Growth steps per (store, table): a fresh catalog starts from the
    * generated files, so every build cycle's upsert does the same work. */
  private val generation = mutable.HashMap.empty[(String, String), Int]
  private var nStore = 0
  private var nGrown = 0

  def stop(): Unit = spark.stop()

  /** In the traced run, operations of each kind alternate traced and
    * untraced (the first traced) so the run also yields the untraced wall
    * to compare against. Warm-up operations are never traced. */
  private def timed(kind: String, warmup: Boolean)(
      body: Ops => Seq[String]): OpResult = {
    val n = perKindCount.getOrElse(kind, 0)
    val traced = trace && !warmup && n % 2 == 0
    if (!warmup) perKindCount(kind) = n + 1
    val (ops, tracer) = if (traced) (tracedOps, tracedTracer) else (plainOps, plainTracer)
    val problems =
      try body(ops)
      catch { case NonFatal(e) => Seq(s"$kind threw ${e.getClass.getName}: ${e.getMessage}") }
    val root = tracer.spans.filter(_.parent < 0).lastOption
    val res = OpResult(kind, root.map(_.durNs).getOrElse(0L), traced, warmup,
      root.map(_.op).getOrElse(-1), problems)
    results += res
    problems.take(5).foreach(p => System.err.println(s"[perfbench] FAILED $kind: $p"))
    res
  }

  private def freshStore(): String = {
    nStore += 1
    runDir.resolve(s"store/s$nStore").toString
  }

  private def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")) b += p
      }
      b.result()
    } finally s.close()
  }

  /** Build `lake` into a fresh store and check the catalog. */
  private def build(lake: Lake, warmup: Boolean): (String, OpResult) = {
    val store = freshStore()
    val r = timed("build", warmup) { ops =>
      ops.build(lake.dir.toString, store)
      Checks.catalog(plainOps.readProfiles(store), plainOps.readSnapshotTables(store),
        lake.facts)
    }
    if (!warmup && !r.failed) {
      buildRates += lake.cells / (r.wallNs / 1e9)
      val files = parquetFiles(store)
      val bytes = files.map(Files.size(_)).sum.toDouble
      catalogRatios += bytes / lake.csvBytes
      storeFiles += files.size.toDouble
      storeBytes += bytes
      if (r.traced) variants += tracedOps.profileVariants(lake.dir.toString)
    }
    (store, r)
  }

  /** Zipf-skewed pick over a seeded ranking of the tables, so some tables
    * are asked about again and again. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(wl.shape.tables)(r => 1.0 / math.pow(r + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private def pickQuery(ranking: IndexedSeq[String]): String = {
    val u = rng.nextDouble()
    ranking(math.min(zipfCdf.indexWhere(_ >= u) max 0, ranking.size - 1))
  }

  private var nSearch = 0
  private def search(lake: Lake, store: String, ranking: IndexedSeq[String],
                     warmup: Boolean): OpResult = {
    val kind = Kinds(nSearch % Kinds.size)
    nSearch += 1
    val q = pickQuery(ranking)
    val known = lake.facts.map(_.name).toSet
    var hits = Seq.empty[Hit]
    val r = timed("search", warmup) { ops =>
      hits = ops.search(kind, q, store, K)
      Checks.answer(q, hits, K, known) ++ Checks.full(hits, math.min(K, known.size - 1))
    }
    if (kind == UnionSearch && !warmup && !r.failed) {
      val group = lake.specs.find(_.name == q).get.group
      val mates = lake.specs.filter(t => t.group == group && t.name != q).map(_.name)
      mateRecall += ((mates.count(hits.map(_.table).contains).toDouble, mates.size.toDouble))
    }
    if (r.traced && !r.failed) {
      val n = tracedOps.pairsScored(kind, q, store).toDouble
      pairs += ((n, n / math.max(1, hits.size)))
    }
    r
  }

  /** Grow `wl.upsertTables` tables (untimed), then re-profile and upsert
    * them. `catalog` holds the facts the store shows before the upsert; the
    * next catalog read must show the grown tables' new facts and every
    * other table's facts unchanged. Returns the facts the store holds
    * after a passing upsert. */
  private def upsert(lake: Lake, store: String, catalog: Map[String, TableFacts],
                     warmup: Boolean): (OpResult, Map[String, TableFacts]) = {
    // the k-th table from the k-th row-count block of a random group, so
    // every upsert re-profiles about as many cells; files with a malformed
    // row are left out (builds cover the fallback path)
    val s = lake.shape.groupSize
    val offset = rng.nextInt(s)
    val picks = Vector.tabulate(wl.upsertTables) { k =>
      val block = lake.specs.zipWithIndex.collect {
        case (spec, t) if t % s == (offset + k) % s && !spec.malformed => spec
      }
      block(rng.nextInt(block.size))
    }
    val gens = picks.map(t => t.name -> (generation.getOrElse((store, t.name), 0) + 1)).toMap
    nGrown += 1
    val dir = runDir.resolve(s"grown/u$nGrown")
    val expected = catalog ++ picks.map(t => t.name -> LakeGen.writeGrown(dir, t, gens(t.name)))
    val r = timed("upsert", warmup) { ops =>
      ops.upsert(dir.toString, store)
      Checks.profiles(plainOps.readProfiles(store), expected.values.toSeq)
    }
    deleteTree(dir)
    if (r.failed) (r, catalog)
    else { generation ++= gens.map { case (t, g) => (store, t) -> g }; (r, expected) }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def execute(): Outcome = {
    val lake = LakeGen.lake(lakeRoot, wl.shape, seed)
    val ranking = {
      val names = lake.facts.map(_.name).toArray
      for (i <- names.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = names(i); names(i) = names(j); names(j) = t
      }
      names.toIndexedSeq
    }

    // set-up: an untimed warm-up (JIT, code generation, first-use costs)
    // and, for the session, the catalog the stream runs against
    def warmSearches(l: Lake, store: String): Unit = {
      Kinds.indices.foreach(_ => search(l, store, l.facts.map(_.name), warmup = true))
      nSearch = 0
    }
    val warm = LakeGen.lake(lakeRoot, wl.warmShape, seed)
    val (warmStore, _) = build(warm, warmup = true)
    // build workloads warm no upsert up: the build warms the decode and
    // profile calls an upsert makes, and each measured upsert follows a build
    if (wl.buildsInLoop) warmSearches(warm, warmStore)
    deleteTree(Paths.get(warmStore))
    val built = lake.facts.map(f => f.name -> f).toMap
    // the session's catalog and the facts it holds; set-up also warms an
    // upsert up on it, as the stream's first upserts are still warming up
    val session = Option.when(!wl.buildsInLoop) {
      // the traced run follows its traced catalog build with an untraced one
      var (store, _) = build(lake, warmup = false)
      if (trace) { deleteTree(Paths.get(store)); store = build(lake, warmup = false)._1 }
      warmSearches(lake, store)
      (store, upsert(lake, store, built, warmup = true)._2)
    }
    val loopStart = System.currentTimeMillis()
    val setupS = (loopStart - jvmStartMs) / 1000.0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def timeLeft = System.nanoTime() < deadline
    def count(kind: String) = results.count(r => r.kind == kind && !r.warmup)
    // the traced run needs a traced and an untraced sample of each kind
    val minUpserts = if (trace) math.max(2, wl.minUpserts) else wl.minUpserts

    if (wl.buildsInLoop) {
      // whole cycles only, so every cycle's search and upsert sees a
      // catalog built in the same cycle
      while (timeLeft || count("upsert") < minUpserts) {
        val (store, _) = build(lake, warmup = false)
        (1 to wl.searchesPerBuild).foreach(_ => search(lake, store, ranking, warmup = false))
        upsert(lake, store, built, warmup = false)
        deleteTree(Paths.get(store))
      }
    } else {
      val store = session.get._1
      var catalog = session.get._2
      while (timeLeft || count("upsert") < minUpserts) {
        (1 to wl.searchesPerUpsert).foreach(_ => search(lake, store, ranking, warmup = false))
        catalog = upsert(lake, store, catalog, warmup = false)._2
      }
    }
    val loopS = (System.currentTimeMillis() - loopStart) / 1000.0

    val metrics =
      if (!trace) endToEnd(setupS)
      else { recorder.foreach(_ => PerfbenchBridge.drainListeners(spark.sparkContext)); perLayer(lake) }
    deleteTree(runDir.resolve("store"))
    val failed = results.count(_.failed)
    val failedRatio = failed.toDouble / results.size
    System.err.println(f"[perfbench] ${wl.name} seed=$seed ops=${results.size} " +
      f"failed=$failed failed_op_ratio=$failedRatio%.4f loop_s=$loopS%.1f " +
      s"builds=${count("build")} searches=${count("search")} upserts=${count("upsert")}")
    val metricsJson = JObject(metrics.toList.map { case (k, (v, u)) =>
      k -> JObject("value" -> num(v), "unit" -> JString(u)) })
    val line = JObject(
      "correct" -> JBool(failed == 0),
      "attempted" -> JLong(results.size),
      "failed" -> JLong(failed),
      "metrics" -> metricsJson)
    val artifact = JObject(
      "workload" -> JString(wl.name),
      "seed" -> JLong(seed),
      "trace" -> JBool(trace),
      "setup_s" -> num(setupS),
      "loop_s" -> num(loopS),
      "failed_op_ratio" -> num(failedRatio),
      "samples" -> JObject(List("build", "search", "upsert").map(k => k -> JLong(count(k)))),
      "lake" -> JObject("tables" -> JLong(lake.facts.size),
        "csv_bytes" -> JLong(lake.csvBytes), "cells" -> JLong(lake.cells)),
      "ops" -> JArray(results.toList.map(r => JObject("kind" -> JString(r.kind),
        "wall_ms" -> num(r.wallNs / 1e6), "traced" -> JBool(r.traced),
        "warmup" -> JBool(r.warmup), "problems" -> JArray(r.problems.toList.map(JString(_)))))),
      "metrics" -> metricsJson,
      "layers" -> JArray(layerTable.toList.map { case (name, cols) =>
        JObject(("span" -> JString(name)) :: cols.toList.map { case (k, v) => k -> num(v) }) }),
      "spans" -> JArray(tracedTracer.spans.toList.map(s => JObject(
        "id" -> JLong(s.id), "name" -> JString(s.name), "parent" -> JLong(s.parent),
        "op" -> JLong(s.op), "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs)))))
    Outcome(compact(render(line)), compact(render(artifact)), renderTable)
  }

  /** A metric value as measured; null when there were no samples. */
  private def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def walls(kind: String, traced: Boolean): Seq[Double] =
    results.filter(r => r.kind == kind && r.traced == traced && !r.warmup && !r.failed)
      .map(_.wallNs / 1e6).toSeq

  private def endToEnd(setupS: Double): Seq[(String, (Double, String))] = {
    val searches = walls("search", traced = false)
    Seq(
      "setup_s" -> (setupS, "s"),
      "build_cells_per_s" -> (median(buildRates.toSeq), "cells/s"),
      "search_p50_ms" -> (Stats.quantile(searches, 0.5), "ms"),
      "search_p75_ms" -> (Stats.quantile(searches, 0.75), "ms"),
      "upsert_p50_ms" -> (median(walls("upsert", traced = false)), "ms"),
      "catalog_bytes_per_input_byte" -> (median(catalogRatios.toSeq), "ratio"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
  }

  /** Span names in the order the per-layer table lists them. */
  private val SpanNames = Seq("build", "ingest.list", "sources.decode", "ingest.fallback",
    "profile", "sources.snapshot", "store.write", "search", "store.read", "search.exec",
    "upsert", "upsert.list", "upsert.decode", "upsert.fallback", "upsert.profile",
    "store.upsert")
  /** Spans whose Spark counts are reported (listing runs no Spark work). */
  private val CountedSpans = SpanNames.filterNot(_.endsWith(".list"))

  private final case class SpanStat(selfS: Double, durS: Double, counts: SparkCounts,
                                    outsideJobsS: Double, gcMs: Double)

  /** Per traced operation, per span name: self time, duration, Spark
    * counts; medians over the traced operations. */
  private lazy val spanStats: Map[String, Seq[SpanStat]] = {
    val spans = tracedTracer.spans
    val self = Span.selfNs(spans)
    val tracedOps = results.filter(_.traced).map(_.op).toSet
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    spans.filter(s => tracedOps(s.op)).map { s =>
      val c = recorder.map(_.counts(s.id.toString)).getOrElse(SparkCounts.Empty)
      val jobIv = subtree(s).flatMap(x => recorder.map(_.counts(x.id.toString).jobIntervals)
        .getOrElse(Nil))
      // job times are in ms; the span's own wall keeps its ns digits
      val outside = s.durNs / 1e9 - Span.covered(jobIv, s.startMs, s.endMs) / 1e3
      s.name -> SpanStat(self(s.id) / 1e9, s.durNs / 1e9, c, outside, s.gcMs.toDouble)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Largest gap, over traced operations, between the operation's wall
    * and the sum of its spans' self times (0 up to rounding). */
  private def selfSumGapMs: Double = {
    val spans = tracedTracer.spans
    val self = Span.selfNs(spans)
    spans.groupBy(_.op).values.map { ss =>
      val root = ss.find(_.parent < 0).get
      math.abs(ss.map(x => self(x.id)).sum - root.durNs) / 1e6
    }.maxOption.getOrElse(0.0)
  }

  private def layerTable: Seq[(String, Seq[(String, Double)])] =
    if (!trace) Nil
    else SpanNames.flatMap { n =>
      spanStats.get(n).map { ss =>
        n -> Seq("samples" -> ss.size.toDouble,
          "self_s" -> median(ss.map(_.selfS)), "dur_s" -> median(ss.map(_.durS)),
          "jobs" -> median(ss.map(_.counts.jobs.toDouble)),
          "tasks" -> median(ss.map(_.counts.tasks.toDouble)),
          "shuffle_write_mb" -> median(ss.map(_.counts.shuffleWriteBytes / 1e6)),
          "spill_mb" -> median(ss.map(_.counts.spillBytes / 1e6)),
          "gc_ms" -> median(ss.map(_.gcMs)),
          "outside_jobs_s" -> median(ss.map(_.outsideJobsS)))
      }
    }

  private def renderTable: String =
    if (!trace) ""
    else {
      val head = f"${"span"}%-18s ${"n"}%3s ${"self_s"}%8s ${"dur_s"}%8s ${"jobs"}%6s ${"tasks"}%7s ${"shufMB"}%7s ${"gc_ms"}%7s ${"outside_s"}%9s"
      (head +: layerTable.map { case (n, c) =>
        val m = c.toMap
        f"$n%-18s ${m("samples")}%3.0f ${m("self_s")}%8.3f ${m("dur_s")}%8.3f ${m("jobs")}%6.0f " +
          f"${m("tasks")}%7.0f ${m("shuffle_write_mb")}%7.2f ${m("gc_ms")}%7.0f ${m("outside_jobs_s")}%9.3f"
      }).mkString("\n") + f"\nself-time sum gap: $selfSumGapMs%.6f ms"
    }

  private def jobFloorMs: Double = {
    val sc = spark.sparkContext
    (1 to 5).foreach(_ => sc.parallelize(Seq(1), 1).count())
    median((1 to 15).map { _ =>
      val t0 = System.nanoTime(); sc.parallelize(Seq(1), 1).count(); (System.nanoTime() - t0) / 1e6
    })
  }

  private def perLayer(lake: Lake): Seq[(String, (Double, String))] = {
    def med(span: String)(f: SpanStat => Double): Double =
      median(spanStats.getOrElse(span, Nil).map(f))
    val decodeS = med("sources.decode")(_.durS)
    val fallbackFiles = lake.specs.count(_.malformed).toDouble
    val named = Seq(
      "ingest.list_s" -> (med("ingest.list")(_.selfS), "s"),
      "ingest.fallback_s" -> (med("ingest.fallback")(_.selfS), "s"),
      "ingest.fallback_files" -> (fallbackFiles, "count"),
      "sources.decode_s" -> (decodeS, "s"),
      "sources.decode_mb_per_s" -> (lake.csvBytes / 1e6 / decodeS, "MB/s"),
      "sources.decode_tasks" -> (med("sources.decode")(_.counts.tasks.toDouble), "count"),
      "sources.accept_ratio" -> ((lake.specs.size - fallbackFiles) / lake.specs.size, "ratio"),
      "sources.snapshot_s" -> (med("sources.snapshot")(_.selfS), "s"),
      "profile_s" -> (med("profile")(_.selfS), "s"),
      "profile.stats_s" -> (median(variants.map(_._1).toSeq), "s"),
      "profile.minhash_s" -> (median(variants.map(_._2).toSeq), "s"),
      "profile.deciles_s" -> (median(variants.map(_._3).toSeq), "s"),
      "profile.cells" -> (lake.cells.toDouble, "count"),
      "store.write_s" -> (med("store.write")(_.selfS), "s"),
      "store.files_written" -> (median(storeFiles.toSeq), "count"),
      "store.bytes_written" -> (median(storeBytes.toSeq), "bytes"),
      "store.read_s" -> (med("store.read")(_.selfS), "s"),
      "store.read_tasks" -> (med("store.read")(_.counts.tasks.toDouble), "count"),
      "store.upsert_s" -> (med("store.upsert")(_.selfS), "s"),
      "search.exec_s" -> (med("search.exec")(_.selfS), "s"),
      "search.pairs_scored" -> (median(pairs.map(_._1).toSeq), "count"),
      "search.pairs_per_result" -> (median(pairs.map(_._2).toSeq), "count"),
      "search.union_mate_recall" -> (mateRecall.map(_._1).sum / mateRecall.map(_._2).sum, "ratio"),
      "upsert.list_s" -> (med("upsert.list")(_.selfS), "s"),
      "upsert.decode_s" -> (med("upsert.decode")(_.selfS), "s"),
      "upsert.fallback_s" -> (med("upsert.fallback")(_.selfS), "s"),
      "upsert.profile_s" -> (med("upsert.profile")(_.selfS), "s"),
      "build.self_s" -> (med("build")(_.selfS), "s"),
      "search.self_s" -> (med("search")(_.selfS), "s"),
      "upsert.self_s" -> (med("upsert")(_.selfS), "s"),
      "engine.job_floor_ms" -> (jobFloorMs, "ms"),
      "engine.gc_ms_per_op" -> (mean(spanStats.filter(kv => Set("build", "search", "upsert")(kv._1))
        .values.flatten.map(_.gcMs).toSeq), "ms"))
    val overhead = Seq("build", "search", "upsert").map { k =>
      s"trace.$k.overhead_ratio" ->
        (median(walls(k, traced = true)) / median(walls(k, traced = false)), "ratio")
    }
    val counts = CountedSpans.flatMap { n =>
      Seq(
        s"$n.jobs" -> (med(n)(_.counts.jobs.toDouble), "count"),
        s"$n.tasks" -> (med(n)(_.counts.tasks.toDouble), "count"),
        s"$n.shuffle_write_mb" -> (med(n)(_.counts.shuffleWriteBytes / 1e6), "MB"),
        s"$n.spill_mb" -> (med(n)(_.counts.spillBytes / 1e6), "MB"),
        s"$n.outside_jobs_s" -> (med(n)(_.outsideJobsS), "s"))
    }
    named ++ overhead ++ counts
  }
}

object Stats {
  /** Linear-interpolation quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
}
