package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Building blocks that several query families use: the lake table
  * reader, the per-session sketch catalog, the exact-mean columns, the
  * streaming harness, and the DuckDB CTEs that recompute the lake's
  * long-format values and MinHash permutations.
  *
  * The catalog cache lives here once, so one `SketchBuild.build` per
  * (session, lake) serves every sketch query in every family.
  */
object Shared {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Lake.read(s, dir, name)

  /** Sketch-catalog cache: the reference materializes sketches once and
    * reuses them across every downstream task (`data_prep.py:150-163`,
    * SURVEY §4 "sketch materialization"); the Spark analogue is one
    * catalog per lake — profiles and [[SnapshotTables]] snapshots —
    * shared by all sketch queries.
    */
  private[queries] val lakeBuilds =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]

  // keyed by session too: a cached plan is bound to the session that built
  // it and must not leak into a successor session in the same JVM.
  // localCheckpoint (not persist): the profile pipeline's logical plan is
  // enormous, and every downstream query referencing a persisted catalog
  // re-pays its analysis/optimization on the DRIVER (~3 s per query here);
  // checkpointing truncates lineage so consumers plan against a flat
  // LogicalRDD. On a real cluster the durable equivalent is the
  // SketchStore parquet catalog (s7s8 round-trip) — same effect, reliable.
  // One `SketchBuild.build` (one decode, one keyed aggregate subtree,
  // planning cost constant in table count) serves both catalogs — every
  // sketch query downstream therefore hash-verifies the catalog build
  // end-to-end. The per-table loop (`Profiler.profileLake`) remains the
  // spec-pinned double-check.
  private[queries] def lakeBuild(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    lakeBuilds.getOrElseUpdate(s"${System.identityHashCode(s)}#$dir", {
      val catalog = graft.cli.SketchBuild.build(s, dir)
      try (catalog.profiles.localCheckpoint(eager = true),
        catalog.snapshots.filter(col("table_name").isin(SnapshotTables: _*))
          .localCheckpoint(eager = true))
      finally catalog.release()
    })

  private[graft] def lakeCatalog(s: SparkSession, dir: String): DataFrame =
    lakeBuild(s, dir)._1

  private[queries] def lakeSnapshots(s: SparkSession, dir: String): DataFrame =
    lakeBuild(s, dir)._2

  private[queries] val LakeTables: Seq[String] = Seq("region", "nation",
    "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings")

  /** Snapshot scope: tables whose row-string rendering is identical across
    * engines. `events` (sub-second timestamp rendering) and `embeddings`
    * (float-array rendering) are excluded so the A13 oracle can recompute
    * the snapshots exactly; both still flow through the profile catalog.
    */
  private[queries] val SnapshotTables: Seq[String] = Seq("region",
    "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents")

  private[queries] def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact (order-independent) mean/std from the profiler's decimal sums:
    * mean = Σx/n, var = Σx²/n − mean², all from exact decimal Σ cast to
    * double — bit-identical across engines, no rounding races.
    */
  private[queries] def exactMean: Column =
    col("sum_dec").cast("double") / (col("rows") - col("num_nan"))

  private[queries] def exactStd: Column =
    sqrt(greatest(
      col("sum_sq_dec").cast("double") / (col("rows") - col("num_nan")) - exactMean * exactMean,
      lit(0.0)))

  private[queries] val streamSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Widen a file-source stream before compute-dense fan-out (guide
    * §2.5): a small-on-disk parquet source yields 1-3 scan splits per
    * micro-batch, so an explode-heavy streamed aggregation otherwise
    * runs its whole map side on 1-3 cores (measured: the quantile
    * micro-batch spent 3.7 s in a 3-task stage). One round-robin
    * exchange of the RAW rows (pre-explode — the narrow relation)
    * spreads the fan-out; the count follows the session's CORE
    * parallelism (defaultParallelism, not numShufflePartitions — the
    * stateful-stream runs lower the shuffle-partition conf to bound
    * state-store instances, and the map-side width must not shrink
    * with it). Pure partitioning: every streamed aggregate is
    * partition-invariant (streamed == batch is each query's oracle). */
  private[queries] def widenStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Run a stateful streaming query (its `.start()` + drain) with
    * `spark.sql.shuffle.partitions` lowered to the state-partition
    * count, restoring the session value after. Stateful operators
    * (streaming aggregates, stream-stream joins, dedup-within-watermark,
    * session windows) instantiate ONE state store per shuffle partition
    * per stateful operator and pay a per-partition commit on EVERY
    * micro-batch — at the session's 32 shuffle partitions that is pure
    * fixed overhead (measured on st_stream_attrib: two ~3 s 32-task
    * stages whose shuffle input is <1 MB; the cost is 4 stores × 32
    * partitions × per-batch commit, not compute — guide §5). State
    * partitioning is invisible to results (streamed == batch is each
    * query's oracle) and bounds STATE-STORE INSTANCES, not correctness.
    * Scale note: the right count tracks STATE VOLUME, not core count —
    * a 100 TB deployment sets SPARK_GRAFT_STREAM_STATE_PARTITIONS to
    * its cluster's shuffle width; the local default 4 matches the MBs
    * of state these queries carry per micro-batch. */
  private[queries] def withStreamState[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4")
    s.conf.set(key, n)
    try body finally s.conf.set(key, prev)
  }

  /** Start a stateful streaming query under [[withStreamState]] and
    * drain it (AvailableNow + awaitTermination). The `start` thunk must
    * CONTAIN the `.start()` call: Structured Streaming snapshots the
    * session conf when the query starts, so the lowered
    * shuffle-partition count must be in force at that moment. */
  private[queries] def runStreamNarrow(s: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    withStreamState(s) { start.awaitTermination() }

  // ---------- sketch-oracle building blocks ----------

  private[queries] val MersenneP = "2305843009213693951" // 2^61 - 1, MinHash.MersennePrime

  /** The engine's 100 permutation constants as a VALUES CTE. */
  private[queries] def permsCte: String = {
    val p = graft.core.MinHash.perms()
    val rows = (0 until graft.core.MinHash.NumPerm)
      .map(i => s"(${i},${p.a(i)},${p.b(i)})").mkString(",")
    s"perms(pi, pa, pb) AS (SELECT * FROM (VALUES $rows) _p(pi, pa, pb))"
  }

  /** min-over-values of one permuted slot: mirrors MinHash.permuteInto —
    * `((a*h + b) mod p) & 0xffffffff` with h = md5Low32(v). */
  private[queries] def mhSlotMin(v: String): String =
    s"min(CAST((CAST(pa AS HUGEINT) * CAST((md5_number_lower($v) & 4294967295) AS BIGINT) + pb) % $MersenneP AS BIGINT) & 4294967295)"

  /** Logical schema of the driver lake (verified against the parquet
    * footers) — (column, logical type in the reference's 4-type system). */
  private[queries] val lakeSchemas: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "integer", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer"),
    "customer" -> Seq("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "integer", "s_name" -> "string",
      "s_nationkey" -> "integer", "s_acctbal" -> "float"),
    "part" -> Seq("p_partkey" -> "integer", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "integer",
      "p_retailprice" -> "float"),
    "orders" -> Seq("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "date", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "integer", "l_partkey" -> "integer",
      "l_suppkey" -> "integer", "l_linenumber" -> "integer",
      "l_quantity" -> "float", "l_extendedprice" -> "float",
      "l_discount" -> "float", "l_tax" -> "float", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "date"),
    "documents" -> Seq("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer"),
    "embeddings" -> Seq("vec_id" -> "integer", "embedding" -> "other",
      "label" -> "integer"),
    "events" -> Seq("event_id" -> "integer", "ts" -> "date",
      "user_id" -> "integer", "event_type" -> "string", "value" -> "float",
      "props" -> "string"))

  /** Keyed deterministic cap — mirrors `Lake.read(rowCap)`: ORDER BY the
    * table key, so both engines select the SAME first-N rows regardless
    * of parquet row-group scheduling (a bare LIMIT is nondeterministic on
    * parallel scans in both engines). */
  private[queries] def cappedSrc(tbl: String, n: Int): String = {
    val keys = graft.sources.Lake.TableKeys(tbl).mkString(", ")
    s"(SELECT * FROM $tbl ORDER BY $keys LIMIT $n)"
  }

  /** Long-format values relation for a set of tables: (t, ci, v) with the
    * same string rendering as Profiler.longFormat (P2 empty→null on string
    * columns). `cap` mirrors the engine's deterministic first-N row cap.
    */
  private[queries] def valsCte(tables: Seq[String], cap: Option[Int]): String = {
    val selects = tables.flatMap { tbl =>
      val src = cap.map(n => cappedSrc(tbl, n)).getOrElse(tbl)
      lakeSchemas(tbl).zipWithIndex.map { case ((c, lt), i) =>
        val render =
          if (lt == "string") s"nullif(CAST($c AS VARCHAR), '')"
          else s"CAST($c AS VARCHAR)"
        s"SELECT '$tbl' AS t, $i AS ci, $render AS v FROM $src"
      }
    }
    s"vals AS (\n  ${selects.mkString("\n  UNION ALL ")}\n)"
  }
}
