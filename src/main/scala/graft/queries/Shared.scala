package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Building blocks that several query families use: the lake table
  * reader, the per-session caches, the exact-mean columns, the
  * streaming harness, and the DuckDB SQL generators written once for
  * every family that replays the same relation (the lake's long-format
  * values and MinHash permutations, connected components, cosine top-5,
  * WordPiece, word shingles, marker language-ID, PageRank).
  *
  * The catalog cache lives here once, so one `SketchBuild.build` per
  * (session, lake) serves every sketch query in every family.
  */
object Shared {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Lake.read(s, dir, name)

  /** A memo of one value per (session, key), built on first use. Keyed by
    * session too: a cached plan is bound to the session that built it and
    * must not leak into a successor session in the same JVM. */
  private[queries] final class SessionCache[A] {
    private val values = scala.collection.concurrent.TrieMap.empty[String, A]

    def apply(s: SparkSession, key: String)(build: => A): A =
      values.getOrElseUpdate(s"${System.identityHashCode(s)}#$key", build)
  }

  /** Sketch-catalog cache: the reference materializes sketches once and
    * reuses them across every downstream task (`data_prep.py:150-163`,
    * SURVEY §4 "sketch materialization"); the Spark analogue is one
    * catalog per lake — profiles and [[SnapshotTables]] snapshots —
    * shared by all sketch queries.
    */
  private val lakeBuilds = new SessionCache[(DataFrame, DataFrame)]

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
    lakeBuilds(s, dir) {
      val catalog = graft.cli.SketchBuild.build(s, dir)
      try (catalog.profiles.localCheckpoint(eager = true),
        catalog.snapshots.filter(col("table_name").isin(SnapshotTables: _*))
          .localCheckpoint(eager = true))
      finally catalog.release()
    }

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

  /** Per event_type: live keys and exact user/event/value-cent
    * checksums of an upserted (user_id, event_type) relation. */
  private[queries] def upsertChecksums(merged: DataFrame): DataFrame =
    merged.groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("user_id")).as("user_checksum"),
        sum(col("event_id")).as("event_checksum"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .orderBy("event_type")

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

  /** Column `c` of logical type `lt` as Profiler.longFormat renders it:
    * VARCHAR, with P2 empty→null on string columns. */
  private[queries] def renderSql(c: String, lt: String): String =
    if (lt == "string") s"nullif(CAST($c AS VARCHAR), '')" else s"CAST($c AS VARCHAR)"

  /** Long-format values relation for a set of tables: (t, ci, v) with the
    * same string rendering as Profiler.longFormat (P2 empty→null on string
    * columns). `cap` mirrors the engine's deterministic first-N row cap.
    */
  private[queries] def valsCte(tables: Seq[String], cap: Option[Int]): String = {
    val selects = tables.flatMap { tbl =>
      val src = cap.map(n => cappedSrc(tbl, n)).getOrElse(tbl)
      lakeSchemas(tbl).zipWithIndex.map { case ((c, lt), i) =>
        s"SELECT '$tbl' AS t, $i AS ci, ${renderSql(c, lt)} AS v FROM $src"
      }
    }
    s"vals AS (\n  ${selects.mkString("\n  UNION ALL ")}\n)"
  }

  /** Recursive connected components over the undirected pairs
    * (id_a, id_b) that `vpSql` selects: `vp`, `edges` both ways, the
    * transitive closure `reach` and each paired id's `labels`(id,
    * cluster), cluster = its component's min id. The statement must
    * open with WITH RECURSIVE. */
  private[queries] def pairClosureCtes(vpSql: String): String =
    s"""vp AS ($vpSql),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
       |          UNION SELECT id_b, id_a FROM vp),
       |$closureCtes""".stripMargin

  /** The closure and labels of [[pairClosureCtes]] over an `edges`(src,
    * dst) relation that already holds both directions. */
  private[queries] val closureCtes: String =
    """reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster
      |           FROM reach GROUP BY src)""".stripMargin

  /** Corpus dedup over the pairs `vpSql` selects from `pairCtes`: keep
    * one representative (the min id) per component plus every unpaired
    * doc, as (lang, n_docs_kept, id_checksum) — the replay of
    * `Dedup.dropNearDuplicates` ∘ `resolveClusters`. */
  private[queries] def keptCorpusSql(pairCtes: String, vpSql: String): String =
    s"""WITH RECURSIVE $pairCtes,
       |${pairClosureCtes(vpSql)},
       |losers AS (SELECT id FROM labels WHERE id <> cluster)
       |SELECT lang, count(*) AS n_docs_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Exact cosine top-5 over `src`(vec_id, e, nrm) as CTE `name`
    * (query_id, neighbor_id): `Ann.bruteForceTopK`'s 6-dp cosine with the
    * zero-norm guard, ties on neighbor id; the queries are the vectors
    * with vec_id ≤ 10, or every vector when `allQueries`. */
  private[queries] def cosineTop5Cte(name: String, src: String,
      allQueries: Boolean = false): String = {
    val pairs =
      if (allQueries) s"FROM $src q JOIN $src c ON c.vec_id <> q.vec_id"
      else s"FROM (SELECT * FROM $src WHERE vec_id <= 10) q\n    JOIN $src c ON c.vec_id <> q.vec_id"
    s"""$name AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
       |          c.vec_id) AS rank
       |    $pairs)
       |  WHERE rank <= 5)""".stripMargin
  }

  /** Whitespace-token totals per (source, lang) as `tot`(source, lang,
    * n_docs, n_tokens), via per-doc counts `toks`, and `q` adding the
    * square-root temperature weight isq = floor(√n_tokens · 10⁶). */
  private[queries] val sqrtWeightCtes: String =
    raw"""toks AS (
      |  SELECT source, lang,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
      |  FROM documents),
      |tot AS (SELECT source, lang, count(*) AS n_docs,
      |          CAST(sum(nt) AS BIGINT) AS n_tokens
      |        FROM toks GROUP BY source, lang),
      |q AS (SELECT *,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS isq
      |      FROM tot)""".stripMargin

  /** Integer-ppm PageRank over `edges`(src, dst), their `nodes` and the
    * out-degrees `deg`: r0 = 10⁶ per node, then 3 unrolled rounds
    * r1..r3 of r = 150000 + (Σ_in r // deg) · 850000 // 10⁶, every op
    * exact integral arithmetic. */
  private[queries] val pageRankCtes: String = {
    def iter(prev: String, out: String): String =
      s"""i_$out AS (
         |  SELECT e.dst AS node, CAST(sum(r.r // g.d) AS BIGINT) AS insum
         |  FROM edges e JOIN $prev r ON r.node = e.src
         |  JOIN deg g ON g.src = e.src GROUP BY e.dst),
         |$out AS (
         |  SELECT nd.node,
         |    CAST(150000 + (coalesce(i.insum, 0) * 850000) // 1000000 AS BIGINT) AS r
         |  FROM nodes nd LEFT JOIN i_$out i ON i.node = nd.node)""".stripMargin
    ("r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)" +:
      Seq(iter("r0", "r1"), iter("r1", "r2"), iter("r2", "r3"))).mkString(",\n")
  }

  /** Word 3-shingles per `key` row, `word_shingles(3)`'s convention (a
    * ≤2-word text is one whole-text shingle): CTEs `d`(key, w) and
    * `g`(key, sh). */
  private[queries] def shingle3Ctes(key: String): String =
    raw"""d AS (SELECT $key, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |g AS (SELECT $key,
      |        CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
      |             ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS sh
      |      FROM d)""".stripMargin

  /** The marker language-ID replay (`TextFunctions.lang_id`): `t0`
    * (`cols` and t = ' ' || lower(text) || ' ') over documents,
    * non-overlapping marker counts per candidate language `scores`, the
    * deterministic argmax `best` (ties to 'en', then by name) and
    * `marker`(doc_id, marker_pred). */
  private[queries] def langMarkerCtes(cols: String): String = {
    val markers = graft.functions.TextFunctions.langMarkers
    val cntSelects = markers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      val cnt = ms.map { m =>
        s"(length(t) - length(replace(t, '$m', ''))) // ${m.length}"
      }.mkString(" + ")
      s"SELECT doc_id, '$lang' AS cand, $cnt AS cnt FROM t0"
    }
    s"""t0 AS (
       |  SELECT $cols, ' ' || lower(text) || ' ' AS t FROM documents),
       |scores AS (
       |  ${cntSelects.mkString("\n  UNION ALL ")}
       |),
       |best AS (
       |  SELECT doc_id, cand, cnt,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY cnt DESC, CASE WHEN cand = 'en' THEN 0 ELSE 1 END, cand) AS rn
       |  FROM scores),
       |marker AS (
       |  SELECT doc_id, CASE WHEN cnt = 0 THEN 'und' ELSE cand END AS marker_pred
       |  FROM best WHERE rn = 1)""".stripMargin
  }

  /** Whitespace token count of `text` (0 for blank text). */
  private[queries] val nTokensSql =
    "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"

  /** Recursive-CTE WordPiece replay (`graft.ml.WordPiece`): the vocab is
    * built from the whitespace words of `vocabText` over `vocabFrom`
    * (chars + `##`-continuations at max freq, whole words by frequency,
    * `vocabPieces` pieces after the 4 specials, ids by (freq desc,
    * piece)); then each `id` row's `text` over `from` is encoded greedy
    * longest-match-first as `[CLS]` body≤`bodySlots` `[SEP]`. The greedy
    * choice at each (word, position) does not depend on segmentation
    * history, so `best` precomputes it per position and `walk` just
    * follows the path. Emits CTEs `words … enc(<id>, ids)`; the statement
    * must open with WITH RECURSIVE (the `walk` CTE). */
  private[queries] def wordpieceCtes(vocabText: String, vocabFrom: String,
      vocabPieces: Int, id: String, text: String, from: String,
      bodySlots: Int): String =
    s"""words AS (
       |  SELECT w FROM (
       |    SELECT unnest(regexp_split_to_array($vocabText, '\\s+')) AS w
       |    FROM $vocabFrom) WHERE w <> ''),
       |chars AS (
       |  SELECT DISTINCT c AS piece FROM (
       |    SELECT unnest(string_split(w, '')) AS c
       |    FROM (SELECT DISTINCT w FROM words)) WHERE c <> ''),
       |cand AS (
       |  SELECT piece, 9223372036854775807 AS freq FROM chars
       |  UNION ALL SELECT '##' || piece, 9223372036854775807 FROM chars
       |  UNION ALL SELECT w AS piece, count(*) AS freq FROM words GROUP BY w),
       |lim AS (
       |  SELECT piece, max(freq) AS freq FROM cand GROUP BY piece
       |  ORDER BY max(freq) DESC, piece LIMIT $vocabPieces),
       |vocab AS (
       |  SELECT piece, CAST(id AS BIGINT) AS id FROM (VALUES
       |    ('[PAD]', 0), ('[UNK]', 1), ('[CLS]', 2), ('[SEP]', 3)) sp(piece, id)
       |  UNION ALL
       |  SELECT piece, CAST(row_number() OVER (ORDER BY freq DESC, piece) + 3 AS BIGINT)
       |  FROM lim),
       |dw AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(regexp_split_to_array($text, '\\s+')) AS w
       |    FROM $from) WHERE w <> ''),
       |pieces AS (
       |  SELECT id, piece LIKE '##%' AS cont,
       |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS core
       |  FROM vocab WHERE piece NOT LIKE '[%'),
       |wp AS (SELECT w, unnest(generate_series(1, length(w))) AS pos FROM dw),
       |best AS (
       |  SELECT wp.w, wp.pos, arg_max(p.id, length(p.core)) AS pid,
       |    max(length(p.core)) AS plen
       |  FROM wp JOIN pieces p
       |    ON p.cont = (wp.pos > 1)
       |   AND substr(wp.w, wp.pos, length(p.core)) = p.core
       |  GROUP BY wp.w, wp.pos),
       |walk(w, pos, ids) AS (
       |  SELECT w, 1, CAST([] AS BIGINT[]) FROM dw
       |  UNION ALL
       |  SELECT x.w, x.pos + b.plen, list_append(x.ids, b.pid)
       |  FROM walk x JOIN best b ON b.w = x.w AND b.pos = x.pos),
       |wseg AS (
       |  SELECT d.w,
       |    coalesce(t.ids, list_value((SELECT id FROM vocab WHERE piece = '[UNK]'))) AS ids
       |  FROM dw d LEFT JOIN
       |    (SELECT w, ids FROM walk WHERE pos = length(w) + 1) t ON t.w = d.w),
       |toks AS (
       |  SELECT $id, w, o FROM (
       |    SELECT $id,
       |      unnest(regexp_split_to_array($text, '\\s+')) AS w,
       |      unnest(generate_series(1, len(regexp_split_to_array($text, '\\s+')))) AS o
       |    FROM $from) WHERE w <> ''),
       |enc AS (
       |  SELECT t.$id,
       |    list_concat(
       |      list_value((SELECT id FROM vocab WHERE piece = '[CLS]')),
       |      list_append(
       |        list_slice(flatten(list(s.ids ORDER BY t.o)), 1, $bodySlots),
       |        (SELECT id FROM vocab WHERE piece = '[SEP]'))) AS ids
       |  FROM toks t JOIN wseg s ON s.w = t.w GROUP BY t.$id)""".stripMargin
}
