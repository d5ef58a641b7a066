package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`) — training-data-pipeline extension.
  *
  * Two paths:
  *  - brute-force cosine top-k: broadcast the (small) query set, score with
  *    codegen'd `zip_with`+`aggregate` (no UDF in the hot path), window
  *    top-k. Exact; O(|corpus|·|queries|) but embarrassingly parallel.
  *  - random-hyperplane LSH: `nBits`-bit signature per vector, banded into
  *    chunks; candidates share a chunk; verified by exact cosine. This is
  *    the 100 TB path — shuffle cost tracks bucket collisions, not n².
  */
object Ann {

  /** Dot product of two array<float|double> columns, in double, codegen'd. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  // Precompute each side's norm ONCE (not per pair); cosine is then
  // dot/(n1*n2) — the same arithmetic order as DuckDB's
  // list_dot_product-based oracle, for bit-stable cross-engine results.
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       id: String, v: String, n: String) =
    df.select(col(idCol).as(id),
      transform(col(vecCol), _.cast("double")).as(v))
      .withColumn(n, norm(col(v)))

  /** The ONE round-6 scoring expression of every precomputed-norm path:
    * a zero norm product (directionless vector) scores 0.0 instead of
    * dividing by zero — ANSI mode would otherwise crash, and non-ANSI
    * NaN would sort ABOVE every real neighbor. Oracle SQL carries the
    * same CASE guard. */
  private def safeCosine(dotE: Column, nProd: Column): Column =
    when(nProd === 0, lit(0.0)).otherwise(round(dotE / nProd, 6))

  /** Exact cosine top-k neighbors for each query vector.
    * Queries are broadcast (the small side); corpus streams. Self-hits
    * (same id) are excluded, reference O5 semantics.
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = withNorm(graft.sources.Lake.balance(corpus), idCol, vecCol, "neighbor_id", "nv", "nn")
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", safeCosine(dot(col("qv"), col("nv")), col("qn") * col("nn")))
    topKByScore(scored, "cosine", k)
  }

  /** Matryoshka truncation report (Kusupati et al. 2022, MRL; public) —
    * the screen a pipeline runs before shipping truncated embeddings:
    * for each prefix dimension, the exact cosine top-k is recomputed
    * over the TRUNCATED vectors and compared with the full-dimension
    * top-k; one row per prefix reports the retained-overlap fraction
    * (exact ppm — matches·10⁶ div (nq·k)). An embedding family whose
    * overlap collapses at d/2 cannot be served truncated, whatever its
    * full-dim recall says.
    *
    * Scale shape: each arm is [[bruteForceTopK]] (broadcast queries,
    * streaming corpus); the full-dim result is localCheckpointed once
    * and every prefix arm joins against it — arms only add, never
    * multiply. At corpus scale swap the arm scorer for the IVF/LSH
    * paths; the comparison tail is unchanged.
    */
  def matryoshkaReport(embs: DataFrame, queries: DataFrame, dims: Seq[Int],
                       k: Int = 5, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty, "need at least one prefix dimension")
    val fullDim = dims.max
    def topk(d: Int): DataFrame = {
      def tr(df: DataFrame) =
        df.withColumn(vecCol, slice(col(s"`$vecCol`"), 1, d))
      bruteForceTopK(tr(embs), tr(queries), k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = topk(fullDim).localCheckpoint(true)
    val nq = queries.agg(count(lit(1)).as("nq"))
    dims.sorted.map { d =>
      topk(d).join(full, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("matches"))
        .crossJoin(broadcast(nq))
        .select(lit(d).cast("long").as("dim_prefix"), col("matches"),
          (expr(s"matches * 1000000 div (nq * ${k}L)").cast("double") / 1e6)
            .as("overlap_r"))
    }.reduce(_ unionByName _)
  }

  /** Signed random projection screen (Johnson–Lindenstrauss;
    * Achlioptas 2003's ±1 database-friendly variant — public): project
    * embeddings to `dOut` dims through a deterministic ±1 matrix
    * (sign = parity of md5("jl:j:k") — data-independent constants
    * computed once driver-side with the engine's md5Low32, replayed
    * bit-identically by the oracle's md5_number_lower & 1), then the
    * same top-k neighborhood-overlap report as [[matryoshkaReport]].
    * The JL sketch mixes ALL input dims into every output dim, so it
    * preserves neighborhoods where naive prefix truncation (MRL
    * screen) cannot.
    *
    * Scale: the projection is a per-row map (dOut sequential-fold dot
    * products — the oracle's list_dot_product order); the overlap
    * report costs two [[bruteForceTopK]] runs on the probe queries.
    *
    * @return one row (dim_out, matches, overlap_r). */
  def jlOverlapReport(embs: DataFrame, queries: DataFrame, dOut: Int,
                      dIn: Int, k: Int = 5, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(dOut >= 1 && dIn >= 1, "need dOut >= 1 and dIn >= 1")
    val signs: Seq[Seq[Double]] = (0 until dOut).map { kk =>
      (0 until dIn).map { j =>
        if (graft.core.MinHash.md5Low32(s"jl:$j:$kk") % 2 == 0) 1.0 else -1.0
      }
    }
    def proj(df: DataFrame): DataFrame = df.withColumn(vecCol,
      array(signs.map(row => dot(col(s"`$vecCol`"), typedLit(row))): _*))
    val full = bruteForceTopK(embs, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val jl = bruteForceTopK(proj(embs), proj(queries), k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val nq = queries.agg(count(lit(1)).as("nq"))
    jl.join(full, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("matches"))
      .crossJoin(broadcast(nq))
      .select(lit(dOut.toLong).as("dim_out"), col("matches"),
        (expr(s"matches * 1000000 div (nq * ${k}L)").cast("double") / 1e6)
          .as("overlap_r"))
  }

  /** Greedy k-center coreset selection (farthest-point traversal —
    * the classic 2-approximation of Gonzalez 1985; the data-selection
    * seat of Sener & Savarese 2018's active-learning coreset — both
    * public): start from the smallest id, then `k−1` rounds each add
    * the point FARTHEST from the current set in rounded cosine
    * distance (d_micro = 10⁶ − rha(round(cos, 6)·10⁶), the house
    * exact-integer seam; ties to ascending id). The reported
    * `gain_micro` of each pick is its distance to the previous set —
    * the coverage radius the pick eliminates; the first center reports
    * the 2·10⁶ "infinite" sentinel.
    *
    * Scale shape: each round is ONE broadcast join of the ≤ k-row
    * center set against the corpus, a per-point min, and a global
    * argmax (TakeOrdered-1, not a window); centers accumulate as a
    * checkpointed ≤ k-row relation, never a driver collect.
    *
    * @return (sel_order, vec_id, gain_micro), k rows. */
  def kCenterCoreset(embs: DataFrame, k: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k >= 1")
    def rha(y: Column) = when(y >= 0, floor(y + 0.5)).otherwise(ceil(y - 0.5))
    val pts = withNorm(embs, idCol, vecCol, "pid", "pv", "pn")
      .localCheckpoint(eager = true)
    val first = pts.orderBy(col("pid")).limit(1)
      .select(lit(1L).as("sel_order"), col("pid").as("vec_id"),
        lit(2000000L).as("gain_micro"))
    var centers = first.localCheckpoint(eager = true)
    for (r <- 2 to k) {
      val cs = pts.join(broadcast(centers.select(col("vec_id").as("pid"))),
        Seq("pid")).select(col("pid").as("cid"), col("pv").as("cv"),
        col("pn").as("cn"))
      val mind = pts.crossJoin(broadcast(cs))
        .withColumn("cos", safeCosine(dot(col("pv"), col("cv")),
          col("pn") * col("cn")))
        .withColumn("d_micro",
          lit(1000000L) - rha(col("cos") * 1e6).cast("long"))
        .groupBy("pid").agg(min(col("d_micro")).as("md"))
      val next = mind.orderBy(col("md").desc, col("pid")).limit(1)
        .select(lit(r.toLong).as("sel_order"), col("pid").as("vec_id"),
          col("md").as("gain_micro"))
      centers = centers.unionByName(next).localCheckpoint(eager = true)
    }
    centers
  }

  /** Hard-negative mining — the retrieval-training data op: for each
    * query vector, the top-k corpus neighbors inside the similarity band
    * `[tauLo, tauHi)` — similar enough to be HARD negatives, below the
    * near-duplicate band where they'd be false negatives (contrastive /
    * dense-retrieval training mines exactly this band; DPR's BM25
    * negatives are the classic precedent). Same broadcast-queries /
    * streaming-corpus shape and the same scoring+rank tail as
    * [[bruteForceTopK]], so ranks can't diverge between paths; swap the
    * scorer for [[rerankTopK]]'s quantized prefilter when the corpus
    * outgrows brute force.
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    tauLo: Double = 0.1, tauHi: Double = 0.5,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(tauLo < tauHi, "band must be non-empty: tauLo < tauHi")
    val c = withNorm(graft.sources.Lake.balance(corpus), idCol, vecCol, "neighbor_id", "nv", "nn")
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", safeCosine(dot(col("qv"), col("nv")), col("qn") * col("nn")))
      .filter(col("cosine") >= tauLo && col("cosine") < tauHi)
    topKByScore(scored, "cosine", k)
  }

  /** Shared ranking tail of every ANN path: per-query row_number over
    * (score desc, neighbor_id) — ONE definition of the tie-break and rank
    * semantics, so the exact/quantized/bucketed paths cannot diverge. */
  private def topKByScore(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", scoreCol, "rank")
  }

  /** Int8 scalar-quantized cosine top-k — the memory-bound scale path:
    * per-vector symmetric quantization (s = max|vᵢ|/127,
    * qᵢ = clamp₍₋₁₂₇,₁₂₇₎(round-half-away(vᵢ/s))) shrinks the resident
    * corpus 4× vs float32 / 8× vs float64, and scoring runs on pure
    * BIGINT dot products (sums of int8 products are exact integers, no
    * floating summation order anywhere), so ranking is engine- and
    * partition-layout-independent and a DuckDB oracle replays it
    * bit-for-bit. Same broadcast-queries/streaming-corpus shape as
    * [[bruteForceTopK]]; all column expressions, fully codegen'd.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def rha(y: Column): Column = // round half away from zero, as doubles
      when(y >= 0, floor(y + 0.5)).otherwise(ceil(y - 0.5))
    def quantize(df: DataFrame, id: String, q: String, n: String) = {
      val v = transform(col(vecCol), _.cast("double"))
      // branch on the SCALE being zero (not the abs-max): the oracle's
      // CASE tests sc = max|v|/127.0, and a subnormal max component can
      // underflow that division to 0.0 — testing the same quantity keeps
      // both engines on the same branch for every input
      df.select(col(idCol).as(id), v.as("v"))
        .withColumn("s",
          aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
        .withColumn(q, when(col("s") === 0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"), x =>
            greatest(lit(-127L), least(lit(127L),
              rha(x / col("s")).cast("long"))))))
        .withColumn(n, sqrt(aggregate(col(q), lit(0L), (a, x) => a + x * x).cast("double")))
        .drop("v", "s")
    }
    def qdot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val c = quantize(graft.sources.Lake.balance(corpus), "neighbor_id", "cq", "cn")
    val q = quantize(queries, "query_id", "qq", "qn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qcosine",
        safeCosine(qdot(col("qq"), col("cq")).cast("double"), col("qn") * col("cn")))
    topKByScore(scored, "qcosine", k)
  }

  /** Two-stage retrieval — the production shape at corpus scale: the int8
    * quantized scan prefilters k·oversample candidates per query (4×
    * smaller resident data, exact-integer ranking), then ONLY those pairs
    * are re-scored with full-precision exact cosine. The candidate
    * relation (|queries|·k·oversample ids) broadcasts into a second
    * corpus pass that gathers full vectors; nothing n² ever materializes
    * at float precision. Deterministic end to end, so the DuckDB oracle
    * replays both stages. */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                 oversample: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cands = quantizedTopK(corpus, queries, k * oversample, idCol, vecCol)
      .select("query_id", "neighbor_id")
    val c = withNorm(graft.sources.Lake.balance(corpus), idCol, vecCol, "neighbor_id", "nv", "nn")
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    val scored = c.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", safeCosine(dot(col("qv"), col("nv")), col("qn") * col("nn")))
    topKByScore(scored, "cosine", k)
  }

  /** Lehmer-mixed integer hyperplane weight: three rounds of
    * x → 48271·x mod (2³¹−1) over seed (1009·h + j + 1), centered to
    * ±2³⁰. Chosen over murmur3 because it is plain BIGINT arithmetic any
    * engine reproduces bit-for-bit — the DuckDB oracle recomputes whole
    * signatures independently, and no JVM/platform hash quirk can shift a
    * bucket boundary at scale.
    */
  private val LehmerM = 2147483647L // 2^31 − 1 (Mersenne prime)
  private def lehmer3(x: Column): Column = {
    val r1 = pmod(x * lit(48271L), lit(LehmerM))
    val r2 = pmod(r1 * lit(48271L), lit(LehmerM))
    pmod(r2 * lit(48271L), lit(LehmerM))
  }
  private def intWeight(h: Int, j: Column): Column =
    lehmer3(pmod(lit(1009L * h) + j + lit(1L), lit(LehmerM))) - lit(1073741823L)

  /** `nBits`-bit signature via random hyperplanes: bit h = sign of
    * Σ_j q_j · w_hj with q_j = ⌊v_j · 10⁶⌋. The dot product is EXACT
    * integer arithmetic — no floating summation order anywhere — so the
    * same vector gets the same signature on every engine and partition
    * layout (bounds: |q|≤10⁶·max|v|, |w|<2³⁰, dim·10⁶·2³⁰ ≪ 2⁶³ for any
    * realistic embedding). Fully codegen'd column expression.
    */
  def rhSignature(vec: Column, nBits: Int = 16): Column = {
    val q = transform(vec, x => floor(x.cast("double") * 1000000).cast("long"))
    val bits = (0 until nBits).map { h =>
      val s = aggregate(zip_with(q, sequence(lit(0L), size(vec).cast("long") - 1),
        (x, j) => x * intWeight(h, j)), lit(0L), (acc, v) => acc + v)
      when(s >= 0, lit(1L << h)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Accumulator hook for the scale contract of [[exactCosinePairs]]: when
    * set (by specs), every scoring task records how many vectors it held.
    * The spec asserts max ≤ 2·⌈n/blocks⌉ — i.e. no JVM ever sees the corpus.
    */
  private[operators] var scaleProbe: Option[org.apache.spark.util.CollectionAccumulator[java.lang.Long]] = None

  /** Exact all-pairs cosine near-dups via BLOCKED pair enumeration: ids are
    * hashed into `blocks` buckets, the B·(B+1)/2 block pairs are enumerated
    * with an RDD cartesian over the (small) grouped-block relation, and each
    * task scores one block pair with a primitive-array kernel (per-pair
    * Catalyst array ops allocate per element; this loop is pure flops, ≈20×
    * faster). NO node — driver or executor — ever holds more than TWO
    * blocks (2·n/B vectors): shuffle volume is n·B rows, compute n²/2 flops
    * spread over B(B+1)/2 tasks. Arithmetic is the SAME IEEE sequence as
    * the Column path (dot in array order, then /(‖a‖·‖b‖), HALF_UP round 6),
    * so the DuckDB oracle matches bit-for-bit. The correct tool when the
    * threshold is too low for LSH banding to reach recall (see
    * [[cosineNearDups]]); the O(n²) FLOP bill is inherent to exactness —
    * cap the candidate universe first if n² compute is unaffordable.
    */
  def exactCosinePairs(embs: DataFrame, threshold: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       blocks: Int = 8): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    require(blocks >= 1, s"blocks must be >= 1, got $blocks")
    val base = graft.sources.Lake.balance(embs)
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .as[(Long, Array[Double])]
    val nb = blocks
    val thr = threshold
    val probe = scaleProbe
    // Block assignment must be deterministic in the id alone (Lehmer mix so
    // consecutive ids spread) — every engine/partition layout agrees.
    def blockOf(id: Long): Int = {
      val m = 2147483647L
      val x = ((id % m) + m) % m
      ((x * 48271L) % m % nb).toInt
    }
    // One block per key, norms precomputed once per vector. groupByKey is
    // deliberate: the whole point of blocking is that a block (n/B vectors)
    // fits a task; holding it as one value is the contract, not a leak.
    val grouped = base.rdd
      .map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (blockOf(id), (id, v, math.sqrt(s)))
      }
      .groupByKey(nb)
      .mapValues(rs => rs.toArray.sortBy(_._1))
    val rows = grouped.cartesian(grouped)
      .filter { case ((bi, _), (bj, _)) => bi <= bj }
      .flatMap { case ((bi, as), (bj, bs)) =>
        val held = as.length.toLong + (if (bi == bj) 0L else bs.length.toLong)
        probe.foreach(_.add(held))
        def score(a: (Long, Array[Double], Double),
                  b: (Long, Array[Double], Double)): Option[(Long, Long, Double)] = {
          val (lo, hi) = if (a._1 < b._1) (a, b) else (b, a)
          val va = lo._2; val vb = hi._2
          var d = 0.0; var k = 0
          while (k < va.length) { d += va(k) * vb(k); k += 1 }
          val c = BigDecimal(d / (lo._3 * hi._3))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (c >= thr) Some((lo._1, hi._1, c)) else None
        }
        if (bi == bj)
          for (i <- as.indices.iterator; j <- (i + 1) until as.length;
               r <- score(as(i), as(j))) yield r
        else
          for (a <- as.iterator; b <- bs; r <- score(a, b)) yield r
      }
    spark.createDataset(rows).toDF("id_a", "id_b", "cosine")
  }

  /** Largest chunk width whose banding recall at `threshold` meets
    * `recallTarget` (same derivation as `SimilarityJoinRewrite.chooseBands`
    * but over the random-hyperplane agreement probability
    * p = 1 − arccos(cos)/π), or None when even 1-bit chunks miss it.
    */
  private[operators] def chooseChunkBits(threshold: Double, nBits: Int,
                                         recallTarget: Double): Option[Int] = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(threshold, 1.0))) / math.Pi
    (math.min(16, nBits) to 1 by -1).find { c =>
      val nChunks = nBits / c
      1.0 - math.pow(1.0 - math.pow(p, c), nChunks) >= recallTarget
    }
  }

  /** Per-label centroid geometry in exact integer micro space — do the
    * label clusters actually separate, and which labels confuse? Each
    * component micro-quantizes to a long, per-(label, dim) SUMS are
    * exact integers (the count cancels out of cosine, so centroids
    * never materialize as floats), the 64 sums assemble into a
    * dim-sorted array, and pairwise centroid cosines run the engine's
    * ONE sequential-fold formula, round-6. Fully deterministic on any
    * partitioning. Output: (label_a, label_b, n_a, n_b, cosine) for
    * label_a < label_b.
    */
  def labelCentroidCosines(embs: DataFrame, vecCol: String = "embedding",
                           labelCol: String = "label"): DataFrame = {
    val comps = embs.select(col(s"`$labelCol`").cast("long").as("label"),
        posexplode(transform(col(s"`$vecCol`"), _.cast("double"))))
      .select(col("label"), col("pos").as("dim"),
        round(col("col") * 1000000, 0).cast("long").as("u"))
    val cent = comps.groupBy("label", "dim")
      .agg(sum(col("u")).as("s"))
    val counts = embs.groupBy(col(s"`$labelCol`").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    val arrs = cent.groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("s")))).as("ds"))
      .select(col("label"),
        transform(col("ds"), _.getField("s").cast("double")).as("sv"))
      .join(counts, "label")
    val a = arrs.select(col("label").as("label_a"), col("sv").as("va"),
      col("n").as("n_a"))
    val b = arrs.select(col("label").as("label_b"), col("sv").as("vb"),
      col("n").as("n_b"))
    a.join(b, col("label_a") < col("label_b"))
      .withColumn("cosine", {
        val np = norm(col("va")) * norm(col("vb"))
        when(np === 0, lit(0.0))
          .otherwise(round(dot(col("va"), col("vb")) / np, 6))
      })
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("cosine"))
  }

  /** Per-dimension variance of an embedding corpus — the dead-dimension
    * / dominant-dimension report (a collapsed dim carries no signal; one
    * dim hoarding the variance breaks cosine geometry). Components
    * micro-quantize to integers so the moment sums are exact; each dim's
    * scaled variance `n·Σu² − (Σu)²` is an exact long, and the
    * anisotropy summary (max over mean of those longs) is one integer
    * ratio — partitioning-invariant throughout.
    * Output: one row per dim (dim, variance, var_share) + constant
    * (n_dims, anisotropy) columns; variance in original units².
    */
  def dimVariance(embs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val comps = embs.select(
        posexplode(transform(col(s"`$vecCol`"), _.cast("double"))))
      .select(col("pos").as("dim"),
        round(col("col") * 1000000, 0).cast("long").as("u"))
    val perDim = comps.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("u")).as("su"),
        sum(col("u") * col("u")).as("suu"))
      .withColumn("vu2", col("n") * col("suu") - col("su") * col("su"))
    val tot = perDim.agg(sum(col("vu2")).as("__sv"), max(col("vu2")).as("__mv"),
      count(lit(1)).as("n_dims"))
    perDim.crossJoin(broadcast(tot))
      .select(col("dim").cast("long").as("dim"),
        round(col("vu2").cast("double") /
          (col("n") * col("n")).cast("double") / 1e12, 6).as("variance"),
        when(col("__sv") === 0, lit(0.0))
          .otherwise(round(col("vu2").cast("double") /
            col("__sv").cast("double"), 6)).as("var_share"),
        col("n_dims"),
        when(col("__sv") === 0, lit(0.0))
          .otherwise(round(col("__mv").cast("double") * col("n_dims").cast("double") /
            col("__sv").cast("double"), 6)).as("anisotropy"))
  }

  /** LSH cosine near-dup pairs: signature chunks as band keys, exact cosine
    * verification. Output (id_a, id_b, cosine) with cosine ≥ threshold.
    *
    * Chunk width is derived FROM the threshold so banding keeps ≥
    * `recallTarget` of true pairs (a fixed width silently drops most
    * qualifying pairs at low thresholds — at cosine 0.35 a 6-bit chunk
    * agrees with p≈5%, recall≈23%). When the recall-feasible chunking is
    * no longer selective (expected collision fraction ≥ ½ of all pairs),
    * banding cannot beat scoring every pair, so this falls back to
    * [[exactCosinePairs]] — correct results at every threshold, LSH
    * speedup whenever geometry permits. The fallback is blocked (no node
    * holds the corpus) but still O(n²) FLOPs — that cost is inherent to an
    * exact answer at a threshold where banding has no recall.
    */
  def cosineNearDups(embs: DataFrame, threshold: Double = 0.95,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     nBits: Int = 32, recallTarget: Double = 0.95): DataFrame = {
    val chunkBits = chooseChunkBits(threshold, nBits, recallTarget)
    val selective = chunkBits.exists { c =>
      (nBits / c).toDouble / math.pow(2.0, c) <= 0.5 // random-pair collision mass
    }
    if (!selective)
      return exactCosinePairs(embs, threshold, idCol, vecCol)
    // Band join + dedup carry ids only; vectors re-attach after, so the
    // wide payload never rides through the collision shuffle. Norms are
    // precomputed once per vector, not per pair.
    val base = graft.sources.Lake.balance(embs)
      .select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v"),
        rhSignature(col(vecCol), nBits).as("sig"))
      .withColumn("nrm", norm(col("v")))
      .persist()
    val nChunks = nBits / chunkBits.get
    val cb = chunkBits.get
    val banded = base.select(col("id"),
      explode(array((0 until nChunks).map(i =>
        struct(lit(i).as("ci"),
          shiftrightunsigned(col("sig"), i * cb)
            .bitwiseAND(lit((1L << cb) - 1)).as("ck"))): _*)).as("c"))
      .select(col("id"), col("c.ci"), col("c.ck"))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.ci") === col("b.ci") && col("a.ck") === col("b.ck") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), "id_b")
      .withColumn("cosine", round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Linear CKA between two embedding views of the SAME items
    * (Kornblith et al. 2019, "Similarity of Neural Network
    * Representations Revisited"; public) — the representation-drift /
    * quantization-health scalar an embedding pipeline reads when it
    * swaps model versions, truncates MRL dims, or int8-quantizes:
    * CKA = ‖Yᶜᵀ Xᶜ‖²_F / (‖Xᶜᵀ Xᶜ‖_F · ‖Yᶜᵀ Yᶜ‖_F) over column-centered
    * micro-quantized views (centering = the [[kmeansCentroids]]
    * truncating-div mean, exact integers). The three Gram cross
    * products are exact-integer sums taken in DECIMAL(38,0); their
    * squared Frobenius sums carry a loud overflow guard (the
    * powerIterationPca discipline — fine to n ≈ 10⁹·d² ranges; past
    * that, evaluate on a deterministic sample). Dimensions may differ
    * between the views (d_y × d_x cross Gram).
    *
    * Scale shape: each Gram is ONE map-side-combined shuffle of
    * (d, d') partial sums — d² cells, never n² — after an id equi-join
    * of the two cell relations.
    *
    * Output: one row (n_vecs, dx, dy, cka). */
  def linearCka(xEmb: DataFrame, yEmb: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    // Each centered cell relation feeds THREE Frobenius joins (its own
    // self-join twice + the cross term): checkpoint so the scan + mean
    // join run once, then pin a hash(n_id) repartition at the session's
    // shuffle parallelism — exactly the layout the n_id joins require
    // (no extra exchange, reused across the three joins), and the
    // d²-blowup join + DECIMAL Gram aggregation can no longer be
    // byte-coalesced onto one task (measured: three ~3 s single-task
    // stages at sf0.1 carried the whole query)
    val shufP = xEmb.sparkSession.sessionState.conf.numShufflePartitions
    def cells(df: DataFrame, dCol: String, vCol: String) = {
      val raw = df.select(col(idCol).as("n_id"),
        posexplode(microVec(col(vecCol))).as(Seq(dCol, "v")))
      val mu = raw.groupBy(dCol)
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("mu", expr(truncMean)).select(col(dCol), col("mu"))
      raw.join(broadcast(mu), dCol)
        .select(col("n_id"), col(dCol), (col("v") - col("mu")).as(vCol))
        .localCheckpoint(eager = false)
        .repartition(shufP, col("n_id"))
    }
    def frob2(a: DataFrame, da: String, va: String,
              b: DataFrame, db: String, vb: String) =
      a.join(b, "n_id")
        .groupBy(col(da), col(db))
        .agg(sum(expr(s"CAST($va * $vb AS DECIMAL(38,0))")).as("c"))
        .agg(sum(expr("c * c")).as("f2"))
    val xc = cells(xEmb, "dx", "vx")
    val yc = cells(yEmb, "dy", "vy")
    val nx = xEmb.agg(count(lit(1)).as("n_vecs"),
      max(size(col(vecCol))).as("dx"))
    val dyc = yEmb.agg(max(size(col(vecCol))).as("dy"))
    val fxy = frob2(xc, "dx", "vx", yc, "dy", "vy").select(col("f2").as("fxy"))
    val fxx = frob2(xc, "dx", "vx",
      xc.select(col("n_id"), col("dx").as("dx2"), col("vx").as("vx2")),
      "dx2", "vx2").select(col("f2").as("fxx"))
    val fyy = frob2(yc, "dy", "vy",
      yc.select(col("n_id"), col("dy").as("dy2"), col("vy").as("vy2")),
      "dy2", "vy2").select(col("f2").as("fyy"))
    nx.crossJoin(dyc).crossJoin(fxy).crossJoin(fxx).crossJoin(fyy)
      .select(col("n_vecs"), col("dx"), col("dy"),
        when(col("fxy").isNull || col("fxx").isNull || col("fyy").isNull, expr(
            "raise_error('linearCka: Frobenius sum overflowed DECIMAL(38,0)" +
              " — evaluate on a deterministic sample')").cast("double"))
          .when(col("fxx") === 0 || col("fyy") === 0, expr(
            "raise_error('linearCka: zero-variance view — CKA undefined')")
            .cast("double"))
          .otherwise(round(col("fxy").cast("double") /
            (sqrt(col("fxx").cast("double")) * sqrt(col("fyy").cast("double"))), 6))
          .as("cka"))
  }

  /** One centroid/codeword entry as a driver-side value: `typedlit` of
    * a cell-ascending `Seq[CentLit]` produces exactly the
    * `array<struct<cell, cq>>` layout [[argminCell]] folds over — the
    * literal form of the former one-row collect_list broadcast. */
  private case class CentLit(cell: Long, cq: Seq[Long])

  /** Micro-quantized vector (the rhSignature quantization, shared). */
  private def microVec(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1000000).cast("long"))

  /** Exact integer squared distance between two micro-vectors (bounds:
    * dim · (2·10⁶·max|v|)² ≪ 2⁶³ for any realistic embedding). */
  private def sqDistMicro(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Truncating integer mean (toward zero). Spark `div` and DuckDB `//`
    * BOTH truncate toward zero (-7 // 2 = -3 in DuckDB), so a plain `s
    * div n` would already agree bit-for-bit; the explicit negative
    * branch is kept only because the committed oracle SQL spells the
    * same CASE and the two texts are audited side-by-side — it is a
    * no-op (`-((-s) div n) ≡ s div n` under truncation), not a
    * semantics bridge. */
  private val truncMean = "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END"

  /** Deterministic Lloyd's k-means over micro-quantized vectors — trains
    * REAL IVF centroids (vs [[rhSignature]]'s data-oblivious hash cells).
    * Every step is exact integer arithmetic: micro components, BIGINT
    * squared distances, argmin tie-broken by cell id, truncating-division
    * centroid means — so training is independent of partitioning and
    * aggregation order, and a DuckDB oracle replays every iteration
    * bit-for-bit. Cells that lose all members keep their previous
    * centroid.
    *
    * Scale shape: centroids broadcast (k·dim longs); assignment is
    * map-side; each iteration pays ONE partial-aggregated shuffle of
    * (cell, dim) integer sums. Init = the k lowest-id vectors (replayable;
    * k-means++ would add per-round corpus scans for little gain at IVF
    * cell granularity).
    * Output: (cell, cq array<long>).
    */
  def kmeansCentroids(embs: DataFrame, k: Int = 8, iters: Int = 3,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sp = embs.sparkSession
    import sp.implicits._
    // persisted across the seed pass + `iters` assignment passes (the
    // scan + micro-quantization otherwise re-runs per round); local to
    // this call — centroids leave as driver values, so nothing
    // downstream holds the lineage and the unpersist is safe
    val vecs = graft.sources.Lake.balance(embs)
      .select(col(idCol).as("id"), microVec(col(vecCol)).as("qv"))
      .persist()
    // The k centroids are bounded MODEL PARAMETERS — iterate them on
    // the DRIVER (guide §5; the trainHardSigmoidLr shape). Seeds = the
    // k lowest-id vectors, cell = 1-based id rank (the former
    // Ranking.withPosition numbering). Each Lloyd's round is then ONE
    // job — the (cell, dim) integer-sum collect, k·dim bounded rows —
    // instead of a broadcast build plus a k-row checkpoint per round,
    // and the centroids enter the assignment as a LITERAL sorted array
    // (no broadcast, no join). The mean is the identical
    // truncating-toward-zero integer division (JVM Long `/` == Spark
    // `div` == DuckDB `//`), so every iteration replays bit-for-bit.
    try {
      var cents: Seq[CentLit] = vecs.orderBy(col("id")).limit(k)
        .select(col("qv")).collect().toSeq.zipWithIndex
        .map { case (r, i) => CentLit(i + 1L, r.getSeq[Long](0)) }
      (1 to iters).foreach { _ =>
        val sums = vecs
          .withColumn("cell", argminCell(typedlit(cents), col("qv")))
          .select(col("cell"), posexplode(col("qv")).as(Seq("d", "x")))
          .groupBy("cell", "d")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val byCell = sums.groupBy(_.getLong(0))
        // cells that lose all members keep their previous centroid
        cents = cents.map { c =>
          byCell.get(c.cell).fold(c) { rows =>
            val cq = c.cq.toArray
            rows.foreach { r =>
              val s = r.getLong(2); val n = r.getLong(3)
              cq(r.getInt(1)) = if (s >= 0) s / n else -((-s) / n)
            }
            CentLit(c.cell, cq.toSeq)
          }
        }
      }
      cents.map(c => (c.cell, c.cq)).toDF("cell", "cq")
    } finally vecs.unpersist()
  }

  /** IVF index balance report — the load-skew stat an index build
    * publishes: per trained k-means cell, its population, plus the skew
    * ratio max_cell·k/n in exact ppm on every row (1.0 = perfectly
    * balanced; a hot cell means nProbe searches probe unevenly and the
    * hot cell bounds tail latency). Same deterministic Lloyd's as
    * [[kmeansIvfTopK]]; one argmin assignment + one count aggregate.
    * Output: (cell, n_vecs, skew).
    */
  def cellSizes(embs: DataFrame, k: Int = 8, iters: Int = 3,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val vecs = graft.sources.Lake.balance(embs)
      .select(col(idCol).as("id"), microVec(col(vecCol)).as("qv"))
    val cents = kmeansCentroids(embs, k, iters, idCol, vecCol)
    val sizes = assignCells(vecs, cents)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = sizes.agg(max(col("n_vecs")).as("__mx"),
      sum(col("n_vecs")).as("__n"), count(lit(1)).as("__k"))
    sizes.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        (expr("__mx * __k * 1000000 div __n").cast("double") / 1e6).as("skew"))
  }

  /** Trained-cell assignment per vector — the public (id, cell) view of
    * the [[kmeansCentroids]] + nearest-cell pipeline, for consumers that
    * need the PARTITION itself (cluster-agreement evaluation, per-cell
    * stratification) rather than a search or balance report. */
  def cellAssignments(embs: DataFrame, k: Int = 8, iters: Int = 3,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val vecs = graft.sources.Lake.balance(embs)
      .select(col(idCol).as("id"), microVec(col(vecCol)).as("qv"))
    assignCells(vecs, kmeansCentroids(embs, k, iters, idCol, vecCol))
      .select(col("id").as(idCol), col("cell"))
  }

  /** Exact-integer argmin over a cell-ascending `array<struct<cell,
    * cq>>` of centroids: fold keeping the strictly smaller distance, so
    * on ties the EARLIEST (lowest cell id) entry wins — bit-identical
    * to ordering by (dist, cell) and taking rank 1. A pure expression:
    * no row blowup, no shuffle, no sort. The O(dim) distance is
    * materialized ONCE per centroid by an inner `transform` before the
    * fold — subexpression elimination does not reliably reach inside
    * higher-order-function lambdas, and referencing the distance twice
    * (predicate + kept struct) evaluated it twice per centroid. */
  private def argminCell(cents: Column, v: Column): Column =
    aggregate(
      transform(cents, c => struct(sqDistMicro(v, c.getField("cq")).as("d"),
        c.getField("cell").as("cell"))),
      struct(lit(Long.MaxValue).as("d"), lit(-1L).as("cell")),
      (acc, c) => when(c.getField("d") < acc.getField("d"), c).otherwise(acc),
      acc => acc.getField("cell"))

  /** Nearest-cell assignment under broadcast centroids: exact integer
    * argmin, ties to the lowest cell id. Input must carry `qv`.
    *
    * Shape (guide §2.4): the former implementation cross-joined every
    * vector against all k centroids and ranked the n·k rows with a
    * `row_number` window — a full shuffle + sort PER ASSIGNMENT, paid
    * every Lloyd's iteration by seven registered queries. The argmin
    * over a one-row sorted centroid array is map-side only: zero
    * exchanges, zero sorts, n rows in flight instead of n·k. */
  private def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val arr = cents
      .agg(array_sort(collect_list(struct(col("cell"), col("cq")))).as("__cents"))
    vecs.crossJoin(broadcast(arr))
      .withColumn("cell", argminCell(col("__cents"), col("qv")))
      .drop("__cents")
  }

  /** IVF search through TRAINED centroids: corpus vectors live in their
    * nearest cell; each query probes its `nProbe` nearest cells and
    * scores only those cells' members with full-precision exact cosine.
    * Approximate (recall bounded by cell geometry), the classic
    * accuracy/cost dial: nProbe = #cells degenerates to exact search.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def kmeansIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    kCells: Int = 8, iters: Int = 3, nProbe: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpus, kCells, iters, idCol, vecCol)
    def prep(df: DataFrame, v: String, n: String) =
      graft.sources.Lake.balance(df).select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as(v),
        microVec(col(vecCol)).as("qv"))
        .withColumn(n, norm(col(v)))
    val c = assignCells(prep(corpus, "nv", "nn"), cents)
      .withColumnRenamed("id", "neighbor_id").drop("qv")
    val probeW = Window.partitionBy(col("id")).orderBy(col("dist"), col("cell"))
    val q = prep(queries, "qvd", "qn")
      .crossJoin(broadcast(cents))
      .withColumn("dist", sqDistMicro(col("qv"), col("cq")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nProbe)
      .select(col("id").as("query_id"), col("qvd"), col("qn"), col("cell"))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", safeCosine(dot(col("qvd"), col("nv")), col("qn") * col("nn")))
      // a neighbor can sit in several probed cells only if duplicated —
      // cells partition the corpus, so (query, neighbor) pairs are unique
    topKByScore(scored, "cosine", k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): embedding-space near-duplicate removal that only
    * compares WITHIN k-means clusters, never across. Clustering is
    * [[kmeansCentroids]] (deterministic exact-integer Lloyd's), so the
    * removed set is a pure function of the data and a DuckDB oracle
    * replays it bit-for-bit. Within a cluster the paper's
    * upper-triangular rule applies under id order: a member is a
    * semantic duplicate iff an EARLIER-id member of the same cluster
    * has cosine ≥ `threshold` — the dominating member need not itself
    * survive, exactly the paper's triangular max-similarity matrix rule
    * (reference corpus analog: the embedding-search pipeline of
    * `extract_embeddings.py` / `embedding_search.py` supplies the
    * vectors; dedup on them is the training-corpus extension).
    *
    * Output: one row per REMOVED vector — `(vec_id, cell, dup_of,
    * cosine)` with `dup_of` = the lowest dominating id and `cosine` =
    * cosine(vec, dup_of) rounded to 6dp.
    *
    * Scale shape: centroids broadcast; assignment map-side; the
    * within-cell self-join shuffles once on cell and scores Σ|cell|²/2
    * pairs — the SemDeDup design point: cluster count is the cost dial
    * (kCells grows with the corpus so cells stay bounded), and cells
    * partition the corpus so no pair is scored twice. The dominating-id
    * reduction is a plain aggregation (no window).
    */
  def semDedup(embs: DataFrame, threshold: Double = 0.35, kCells: Int = 8,
               iters: Int = 3, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(embs, kCells, iters, idCol, vecCol)
    val base = graft.sources.Lake.balance(embs)
      .select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v"),
        microVec(col(vecCol)).as("qv"))
    // both sides of the self-join read the assignment subtree (kmeans
    // crossjoin + per-id argmin window) — materialize it once
    val assigned = assignCells(base, cents)
      .withColumn("nrm", norm(col("v")))
      .persist()
    val dom = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        safeCosine(dot(col("a.v"), col("b.v")), col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("b.id").as("vec_id"), col("a.cell").as("cell"),
        col("a.id").as("dup_of"), col("cosine"))
    dom.groupBy("vec_id", "cell")
      .agg(min(struct(col("dup_of"), col("cosine"))).as("m"))
      .select(col("vec_id"), col("cell"),
        col("m.dup_of").as("dup_of"), col("m.cosine").as("cosine"))
  }

  /** Micro-quantized subvector relation `(id, sub, sq)`: vector split
    * into `nSub` contiguous `subDim`-wide pieces — the PQ decomposition.
    */
  private def subVecs(embs: DataFrame, idCol: String, vecCol: String,
                      nSub: Int, subDim: Int): DataFrame =
    graft.sources.Lake.balance(embs)
      .select(col(idCol).as("id"), microVec(col(vecCol)).as("qv"))
      .select(col("id"), explode(array((0 until nSub).map(s =>
        struct(lit(s.toLong).as("sub"),
          slice(col("qv"), s * subDim + 1, subDim).as("sq"))): _*)).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sq").as("sq"))

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)): an
    * independent `k`-codeword codebook per subspace, trained by the
    * same deterministic exact-integer Lloyd's as [[kmeansCentroids]] —
    * micro components, BIGINT distances, argmin ties to the lowest
    * code, truncating-division means, empty codes carry — but GROUPED:
    * all `nSub` subspaces train in the same jobs (seeds are the `k`
    * lowest-id vectors' subvectors; each iteration pays ONE
    * (sub, code, dim) integer-sum shuffle — 1024 groups at 8×16×8,
    * independent of corpus size). Output: `(sub, code, cq)`.
    */
  def pqCodebooks(embs: DataFrame, nSub: Int = 8, k: Int = 16,
                  iters: Int = 2, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val dim = embs.select(size(col(vecCol))).first().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    pqCodebooksFromSubVecs(subVecs(embs, idCol, vecCol, nSub, dim / nSub), k, iters)
  }

  /** [[pqCodebooks]] over an already-built (possibly persisted)
    * subvector relation — lets [[pqTopK]] share one corpus pass between
    * training and encoding. */
  private def pqCodebooksFromSubVecs(vecs: DataFrame, k: Int,
                                     iters: Int): DataFrame = {
    val sp = vecs.sparkSession
    import sp.implicits._
    // nSub·k codewords are bounded model parameters — iterate on the
    // DRIVER (the kmeansCentroids shape): one seed collect, then ONE
    // (sub, code, dim) integer-sum collect per round; the per-subspace
    // codebooks enter the assignment as one nested literal indexed by
    // sub. Identical truncating-division means, so each round replays
    // bit-for-bit against the former checkpoint chain.
    // seeds = the k lowest distinct ids, code = 1-based id rank (the
    // former Ranking.withPosition numbering, without its zipWithIndex
    // RDD job): one id collect, one filtered subvector collect
    val seedIds = vecs.select(col("id")).distinct().orderBy(col("id"))
      .limit(k).collect().map(_.get(0))
    val idCode = seedIds.zipWithIndex.map { case (v, i) => v -> (i + 1L) }.toMap
    var cents: Map[Long, Seq[CentLit]] = vecs
      .filter(col("id").isInCollection(seedIds.toSeq))
      .select(col("id"), col("sub"), col("sq")).collect()
      .groupBy(_.getLong(1))
      .map { case (sub, rows) =>
        sub -> rows.map(r => CentLit(idCode(r.get(0)), r.getSeq[Long](2)))
          .sortBy(_.cell).toSeq
      }
    if (cents.nonEmpty) {
      val maxSub = cents.keys.max
      (1 to iters).foreach { _ =>
        val litCb = typedlit((0L to maxSub).map(s =>
          cents.getOrElse(s, Seq.empty[CentLit])))
        val sums = vecs
          .withColumn("code", argminCell(
            element_at(litCb, col("sub").cast("int") + 1), col("sq")))
          .select(col("sub"), col("code"), posexplode(col("sq")).as(Seq("d", "x")))
          .groupBy("sub", "code", "d")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val bySubCode = sums.groupBy(r => (r.getLong(0), r.getLong(1)))
        // codes that lose all members keep their previous codeword
        cents = cents.map { case (sub, cl) =>
          sub -> cl.map { c =>
            bySubCode.get((sub, c.cell)).fold(c) { rows =>
              val cq = c.cq.toArray
              rows.foreach { r =>
                val s = r.getLong(3); val n = r.getLong(4)
                cq(r.getInt(2)) = if (s >= 0) s / n else -((-s) / n)
              }
              CentLit(c.cell, cq.toSeq)
            }
          }
        }
      }
    }
    cents.toSeq.sortBy(_._1)
      .flatMap { case (sub, cl) => cl.map(c => (sub, c.cell, c.cq)) }
      .toDF("sub", "code", "cq")
  }

  /** Nearest-codeword assignment per (id, sub) under broadcast
    * codebooks: exact integer argmin, ties to the lowest code. Same
    * map-side argmin shape as [[assignCells]] (guide §2.4): one
    * broadcast-hash join on `sub` against the nSub-row per-subspace
    * codeword arrays replaces the former n·nSub·k-row window
    * (shuffle + sort per assignment, paid every PQ training
    * iteration and every encode). */
  private def assignCodes(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val bySub = cents.groupBy("sub")
      .agg(array_sort(collect_list(struct(col("code").as("cell"),
        col("cq")))).as("__codes"))
    vecs.join(broadcast(bySub), Seq("sub"))
      .withColumn("code", argminCell(col("__codes"), col("sq")))
      .drop("__codes")
  }

  /** PQ-encode: each corpus vector as `nSub` code ids (long form
    * `(id, sub, code)` — 8 codes replace 64 floats; the resident index
    * at 100 TB). */
  def pqEncode(embs: DataFrame, cents: DataFrame, nSub: Int = 8,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = embs.select(size(col(vecCol))).first().getInt(0)
    assignCodes(subVecs(embs, idCol, vecCol, nSub, dim / nSub), cents)
      .select(col("id"), col("sub"), col("code"))
  }

  /** The ADC rank tail of [[pqTopK]] and [[ivfPqTopK]]: each query's
    * sub-distances `d` (`dt`) join the encoded corpus (`enc`) on `keys`,
    * sum per (query_id, neighbor_id) into `adc_dist` (self-matches
    * dropped), and the `k` nearest per query are ranked by (adc_dist,
    * neighbor_id). */
  private def adcTopK(enc: DataFrame, dt: DataFrame, keys: Seq[String],
                      k: Int): DataFrame = {
    val scored = enc.join(broadcast(dt), keys)
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** PQ top-k by Asymmetric Distance Computation: per query, a
    * `(nSub × k)` table of exact BIGINT squared distances from the
    * query's subvectors to every codeword; a corpus vector's distance
    * is the SUM of `nSub` table lookups — query time never touches
    * full-precision corpus vectors, and the whole score is integer
    * arithmetic (no rounding anywhere, so the oracle replay is exact).
    *
    * Scale shape: codebooks and the per-query distance tables broadcast
    * (|Q|·nSub·k tiny rows); the scoring join streams the 8-codes-long
    * encoded corpus — the classic PQ trade: O(|corpus|·nSub) integer
    * adds against an index 32× smaller than the raw vectors. Top-k
    * ranks within each query's bounded candidate set.
    * Output: `(query_id, neighbor_id, adc_dist, rank)`.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             nSub: Int = 8, nCodes: Int = 16, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    // one corpus subvector pass feeds both codebook training and encoding
    val sv = subVecs(corpus, idCol, vecCol, nSub, dim / nSub).persist()
    val cents = pqCodebooksFromSubVecs(sv, nCodes, iters)
    val enc = assignCodes(sv, cents)
      .select(col("id").as("neighbor_id"), col("sub"), col("code"))
    val dt = subVecs(queries, idCol, vecCol, nSub, dim / nSub)
      .withColumnRenamed("id", "query_id")
      .join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        sqDistMicro(col("sq"), col("cq")).as("d"))
    adcTopK(enc, dt, Seq("sub", "code"), k)
  }

  /** IVF-PQ composed index (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search" §IV's IVFADC — public):
    * coarse k-means cells route each query to its `nProbe` nearest
    * cells, and the corpus is PQ-encoded on RESIDUALS (vector − its
    * cell centroid — the IVFADC refinement that makes one codebook
    * serve every cell); candidates are the probed cells' members,
    * scored by exact-BIGINT ADC between the query's per-cell residual
    * and the residual codewords. The full composition of
    * [[kmeansIvfTopK]]'s routing and [[pqTopK]]'s scoring — at 100 TB
    * this is THE resident-index shape: 8 bytes/vector + kCells
    * centroids, query cost O(probed members · nSub) integer adds.
    *
    * Everything integer micro-space (centroids, residuals, codebooks,
    * distances) — no rounding anywhere, the oracle replays
    * bit-for-bit. Output: (query_id, neighbor_id, adc_dist, rank). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                kCells: Int = 8, cellIters: Int = 3, nProbe: Int = 2,
                nSub: Int = 8, nCodes: Int = 16, pqIters: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val subDim = dim / nSub
    def slices(rv: Column) = explode(array((0 until nSub).map(s =>
      struct(lit(s.toLong).as("sub"),
        slice(rv, s * subDim + 1, subDim).as("sq"))): _*))
    val cents = kmeansCentroids(corpus, kCells, cellIters, idCol, vecCol)
    val base = graft.sources.Lake.balance(corpus)
      .select(col(idCol).as("id"), microVec(col(vecCol)).as("qv"))
    // corpus residuals against the home-cell centroid feed BOTH
    // codebook training and encoding — materialize once
    val rsv = assignCells(base, cents).join(broadcast(cents), "cell")
      .select(col("id"), col("cell"),
        slices(zip_with(col("qv"), col("cq"), (a, b) => a - b)).as("x"))
      .select(col("id"), col("cell"), col("x.sub").as("sub"), col("x.sq").as("sq"))
      .localCheckpoint(eager = true)
    val pq = pqCodebooksFromSubVecs(rsv.select("id", "sub", "sq"), nCodes, pqIters)
    val enc = assignCodes(rsv, pq)
      .select(col("id").as("neighbor_id"), col("cell"), col("sub"), col("code"))
    val probeW = Window.partitionBy(col("id")).orderBy(col("dist"), col("cell"))
    val qp = queries.select(col(idCol).as("id"), microVec(col(vecCol)).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", sqDistMicro(col("qv"), col("cq")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nProbe)
      .select(col("id").as("query_id"), col("cell"),
        slices(zip_with(col("qv"), col("cq"), (a, b) => a - b)).as("x"))
      .select(col("query_id"), col("cell"), col("x.sub").as("sub"), col("x.sq").as("sq"))
    val dt = qp.join(broadcast(pq), Seq("sub"))
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        sqDistMicro(col("sq"), col("cq")).as("d"))
    adcTopK(enc, dt, Seq("cell", "sub", "code"), k)
  }

  /** IVF-style bucketed top-k: assign each vector to its nearest of
    * `nCells` hash-derived centroid buckets (by signature prefix), search
    * only within the query's bucket. Approximate; the scale path when the
    * query set is also large.
    */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   prefixBits: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      rhSignature(col(vecCol), prefixBits).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      rhSignature(col(vecCol), prefixBits).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("nv")), 6))
    topKByScore(scored, "cosine", k)
  }

  /** Dominant principal direction of an embedding corpus by fixed-round
    * power iteration on the mean-centered covariance ACTION — the
    * "All-but-the-top" (Mu & Viswanath, ICLR 2018) anisotropy report:
    * a large explained-variance share on the top component means cosine
    * similarities are dominated by one common direction and the corpus
    * would benefit from common-component removal. The d×d covariance
    * matrix is NEVER materialized: each round applies C·v as two keyed
    * aggregations over the (id, dim, y) relation — dots = Σ_dim y·v per
    * id, then z = Σ_id y·dot per dim — O(n·d) rows per round, one
    * id-keyed shuffle (the dim side is d rows, broadcast).
    *
    * Cross-engine determinism: components micro-quantize to 1e6 (the
    * [[dimVariance]] seam), the per-dim mean uses truncating `div`
    * (toward zero — Spark `div` and DuckDB `//` agree on negatives),
    * and every iteration rescales by an exact integer quotient
    * (`x div max(1, max|x| div 1e6)`, the [[graft.operators.Graph]]
    * HITS discipline), so any engine replays the iteration
    * bit-identically. The closing explained-variance share
    * (Σdot²)/(‖v‖²·Σy²) is summed as DECIMAL and reduced to exact
    * integer ppm by one integral divide — no float ever enters. Sign is
    * canonicalized (lowest-dim nonzero component positive) so the
    * report, not just its span, is deterministic.
    *
    * Magnitude bounds (why this holds at scale): |y| ≤ 2·max|u|,
    * |dot'| ≤ ~1e6 after rescale, so |z| ≤ n·|y|·1e6 — with unit-normed
    * float embeddings (|u| ≤ 1e6) the per-dim sum stays inside a long up
    * to n ≈ 2·10⁹ vectors; beyond that, run on a deterministic sample
    * (the share is a distribution estimate — the `d_lsh_quality`
    * sample-bounded precedent).
    *
    * Output: one row per dimension — (dim, component_ppm, ev_share);
    * component_ppm is the integer direction (≤1e6 scale), ev_share the
    * top component's share of total centered variance (same on every
    * row).
    */
  def powerIterationPca(embs: DataFrame, nIter: Int = 6,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val (y, vc) = pcaCore(embs, nIter, idCol, vecCol)
    // explained-variance share of the found direction: (Σ dot²)/(‖v‖²·Σy²)
    val num = y.join(broadcast(vc.withColumnRenamed("v", "__v")), "dim")
      .groupBy("id").agg(sum(col("y") * col("__v")).as("dot"))
      .agg(sum(expr(
        "CAST(dot AS DECIMAL(19,0)) * CAST(dot AS DECIMAL(19,0))")).as("num"))
    val den = vc
      .agg(sum(expr("CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))"))
        .as("nv"))
      .crossJoin(y.agg(sum(expr(
        "CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))")).as("sy")))
      .select((col("nv") * col("sy")).as("den"))
    // share in exact integer ppm — (num·1e6) div den never touches a
    // float, so no decimal→double conversion seam exists cross-engine.
    // num NULL means the DECIMAL(38,0) dot² sum overflowed (non-ANSI
    // NULL-on-overflow) — raise rather than silently diverge from an
    // oracle whose wider integers keep computing; the documented remedy
    // is running on a deterministic sample.
    val ev = num.crossJoin(den)
      .select(when(col("den").isNull || col("den") === 0, lit(0.0))
        .when(col("num").isNull, expr(
          "raise_error('powerIterationPca: dot-squared sum overflowed " +
            "DECIMAL(38,0) — run on a deterministic sample')").cast("double"))
        .otherwise(expr("CAST(num * 1000000 AS DECIMAL(38,0)) div den")
          .cast("double") / 1e6).as("ev_share"))
    vc.crossJoin(broadcast(ev))
      .select(col("dim").cast("long").as("dim"),
        col("v").as("component_ppm"), col("ev_share"))
  }

  /** The shared power-iteration core: returns the centered integer
    * component relation `y(id, dim, y)` and the sign-canonicalized
    * direction `vc(dim, v)`, both materialized. See
    * [[powerIterationPca]] for the arithmetic contract. */
  private def pcaCore(embs: DataFrame, nIter: Int, idCol: String,
                      vecCol: String): (DataFrame, DataFrame) = {
    require(nIter > 0, "need at least one iteration")
    val sp = embs.sparkSession
    import sp.implicits._
    val comps = embs.select(col(idCol).cast("long").as("id"),
        posexplode(transform(col(s"`$vecCol`"), _.cast("double"))))
      .select(col("id"), col("pos").as("dim"),
        round(col("col") * 1000000, 0).cast("long").as("u"))
    // The d-row direction is a bounded MODEL PARAMETER — iterate it on
    // the DRIVER (guide §5; the kmeansCentroids shape). Per round the
    // former plan paid dots 3× and z 2× across two broadcast builds
    // plus a d-row checkpoint; now round = exactly TWO jobs (the |dot|
    // max, then the per-dim z collect), with v and mu entering as
    // literal array lookups. All scalar algebra is the identical
    // truncating-toward-zero Long division, so every round replays
    // bit-for-bit.
    val muRows = comps.groupBy("dim")
      .agg(sum(col("u")).as("su"), count(lit(1)).as("n")).collect()
    val d = muRows.length
    val mu = new Array[Long](d)
    muRows.foreach(r => mu(r.getInt(0)) = r.getLong(1) / r.getLong(2))
    // centered relation reused 2·nIter+2 times — materialize once
    val y = comps.select(col("id"), col("dim"),
        (col("u") - element_at(typedlit(mu.toSeq), col("dim") + 1)).as("y"))
      .localCheckpoint(true)
    // start vector 1e6 + dim: a FLAT start is exactly orthogonal to any
    // dominant direction whose components sum to zero (e.g. perfectly
    // anti-correlated dims) and the iteration would silently return the
    // zero vector; the per-dim perturbation breaks that symmetry at no
    // determinism cost
    var v: Array[Long] = Array.tabulate(d)(i => 1000000L + i)
    for (_ <- 1 to nIter) {
      val dots = y.select(col("id"),
          (col("y") * element_at(typedlit(v.toSeq), col("dim") + 1)).as("p"))
        .groupBy("id").agg(sum(col("p")).as("dot"))
      val scRow = dots.agg(max(abs(col("dot")))).collect()(0)
      val sc = math.max(1L,
        (if (scRow.isNullAt(0)) 0L else scRow.getLong(0)) / 1000000L)
      val zRows = y.join(
          dots.select(col("id"), expr(s"dot div ${sc}L").as("ds")), "id")
        .groupBy("dim").agg(sum(col("y") * col("ds")).as("z")).collect()
      val z = new Array[Long](d)
      zRows.foreach(r => z(r.getInt(0)) = r.getLong(1))
      val zs = math.max(1L,
        (if (zRows.isEmpty) 0L else z.map(math.abs).max) / 1000000L)
      v = z.map(_ / zs)
    }
    // canonical sign: first (lowest-dim) nonzero component positive
    val sgn = v.find(_ != 0L).map(x => if (x >= 0) 1L else -1L).getOrElse(1L)
    val vc = (0 until d).map(i => (i, v(i) * sgn)).toDF("dim", "v")
    (y, vc)
  }

  /** Mutual-kNN graph health report — the neighborhood-structure screen
    * for an embedding corpus (hubness and orphan mass are the classic
    * high-dimensional ANN pathologies; Radovanović et al., JMLR 2010):
    * build the directed exact kNN graph, then report in one row the
    * node count, directed edge count, mutual pairs (i∈kNN(j) AND
    * j∈kNN(i)), the mutual fraction (exact ppm — `2·mutual·1e6 div
    * edges`), the max in-degree (hubness ceiling), and the orphan count
    * (vectors never retrieved as anyone's neighbor). Brute-force
    * scoring is the oracle-able contract here; at corpus scale swap the
    * edge source for the LSH/IVF paths — the report tail is unchanged.
    */
  def knnGraphReport(embs: DataFrame, k: Int = 5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val edges = bruteForceTopK(embs, embs, k, idCol, vecCol)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint(true) // reused by 3 aggregates below
    val nNodes = embs.agg(count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val mutual = edges.as("a").join(edges.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src") &&
          col("a.src") < col("a.dst"))
      .agg(count(lit(1)).as("mutual_pairs"))
    val indeg = edges.groupBy("dst").agg(count(lit(1)).as("d"))
    val hub = indeg.agg(coalesce(max(col("d")), lit(0L)).as("max_in_degree"),
      count(lit(1)).as("__reached"))
    nNodes.crossJoin(nEdges).crossJoin(mutual).crossJoin(hub)
      .select(col("n_nodes"), col("n_edges"), col("mutual_pairs"),
        when(col("n_edges") === 0, lit(0.0))
          .otherwise(expr("2 * mutual_pairs * 1000000 div n_edges")
            .cast("double") / 1e6).as("mutual_fraction"),
        col("max_in_degree"),
        (col("n_nodes") - col("__reached")).as("n_orphans"))
  }

  /** kNN label-agreement screen — the noisy-label probe (the intuition
    * behind Confident Learning / deep-kNN filtering: a correctly-labeled
    * point's nearest neighbors mostly share its label; a mislabeled one
    * is an island): for each vector, how many of its k exact nearest
    * neighbors carry the same label, rolled up per label as an exact
    * ppm agreement rate plus the count of zero-agreement suspects.
    * Same brute-force edge contract as [[knnGraphReport]] — swap the
    * edge source for LSH/IVF at corpus scale; the rollup is unchanged.
    * Output: one row per label — (label, n_vecs, agree_edges,
    * total_edges, n_suspects, agreement).
    */
  def labelAgreement(embs: DataFrame, k: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    val lbl = embs.select(col(idCol).cast("long").as("__id"),
      col(s"`$labelCol`").as("__lbl"))
    val perVec = bruteForceTopK(embs, embs, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
      .join(lbl.select(col("__id").as("query_id"), col("__lbl").as("ql")),
        "query_id")
      .join(lbl.select(col("__id").as("neighbor_id"), col("__lbl").as("nl")),
        "neighbor_id")
      .groupBy(col("query_id"), col("ql"))
      .agg(count(lit(1)).as("n_nb"),
        sum(when(col("ql") === col("nl"), 1L).otherwise(0L)).as("n_agree"))
    perVec.groupBy(col("ql").as(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n_agree")).as("agree_edges"),
        sum(col("n_nb")).as("total_edges"),
        sum(when(col("n_agree") === 0, 1L).otherwise(0L)).as("n_suspects"))
      .withColumn("agreement",
        expr("agree_edges * 1000000 div total_edges").cast("double") / 1e6)
  }

  /** All-but-the-top removal report (Mu & Viswanath 2018, step 2):
    * project every centered vector off the [[powerIterationPca]]
    * direction and measure what the common component carried — the
    * before/after evidence a curation run reads to decide whether to
    * apply the transform corpus-wide. One row:
    *  - `ev_top_share`: variance share of the removed direction
    *  - `var_retained`: Σ‖y′‖²/Σ‖y‖² after projection (≈ 1 − ev_top)
    *  - `axis_aniso_before/after`: max per-dim variance share × n_dims
    *    (the [[dimVariance]] anisotropy statistic) — removal should pull
    *    it toward 1 (isotropy)
    *
    * Arithmetic: the projection coefficient per cell is the exact
    * integral quotient (dot·v_dim) div ‖v‖² computed in DECIMAL, so the
    * projected relation and every ratio (reduced to ppm by integral
    * divides) replays bit-identically cross-engine. Cost on top of the
    * core: one n·d projection join + four 1-row aggregates.
    */
  def abttReport(embs: DataFrame, nIter: Int = 6,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val (y, vc) = pcaCore(embs, nIter, idCol, vecCol)
    val nv2 = vc.agg(sum(col("v") * col("v")).as("nv2"))
    val dots = y.join(broadcast(vc.withColumnRenamed("v", "__v")), "dim")
      .groupBy("id").agg(sum(col("y") * col("__v")).as("dot"))
    // y′ = y − (dot·v) div ‖v‖² — exact integral projection per cell;
    // materialized once (two aggregates consume it below, and it carries
    // the heaviest join of the function)
    val yp = y.join(dots, "id").crossJoin(broadcast(nv2))
      .join(broadcast(vc), "dim")
      .select(col("id"), col("dim"),
        when(col("nv2") === 0, col("y")).otherwise(col("y") -
          expr("CAST(dot AS DECIMAL(38,0)) * v div CAST(nv2 AS DECIMAL(19,0))"))
          .as("yp"))
      .localCheckpoint(true)
    def sumSq(df: DataFrame, c: String, as: String): DataFrame =
      df.agg(sum(expr(s"CAST($c AS DECIMAL(19,0)) * CAST($c AS DECIMAL(19,0))"))
        .as(as))
    def axisAniso(df: DataFrame, c: String, as: String): DataFrame =
      df.groupBy("dim")
        .agg(sum(expr(s"CAST($c AS DECIMAL(19,0)) * CAST($c AS DECIMAL(19,0))"))
          .as("sd"))
        .agg(max(col("sd")).as("mx"), sum(col("sd")).as("tot"),
          count(lit(1)).as("nd"))
        .select(when(col("tot").isNull || col("tot") === 0, lit(0.0))
          .otherwise(
            expr("CAST(mx * nd * 1000000 AS DECIMAL(38,0)) div tot")
              .cast("double") / 1e6).as(as))
    val syy = sumSq(y, "y", "syy")
    val syp = sumSq(yp, "yp", "syp")
    val counts = embs.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(vc.agg(count(lit(1)).as("n_dims")))
    // A NULL sum here is decimal overflow, not an empty input (count
    // handles that) — raise rather than silently emit NULL/0 where the
    // oracle's wider integers keep computing (powerIterationPca precedent)
    val overflow = expr(
      "raise_error('abttReport: squared-sum overflowed DECIMAL(38,0) — " +
        "run on a deterministic sample')").cast("double")
    counts.crossJoin(syy).crossJoin(syp)
      .select(col("n_vecs"), col("n_dims"),
        when(col("n_vecs") > 0 &&
            (col("syy").isNull || col("syp").isNull), overflow)
          .when(col("syy").isNull || col("syy") === 0, lit(0.0))
          .otherwise(expr(
            "CAST((syy - syp) * 1000000 AS DECIMAL(38,0)) div syy")
            .cast("double") / 1e6).as("ev_top_share"),
        when(col("n_vecs") > 0 &&
            (col("syy").isNull || col("syp").isNull), overflow)
          .when(col("syy").isNull || col("syy") === 0, lit(0.0))
          .otherwise(expr("CAST(syp * 1000000 AS DECIMAL(38,0)) div syy")
            .cast("double") / 1e6).as("var_retained"))
      .crossJoin(axisAniso(y, "y", "axis_aniso_before"))
      .crossJoin(axisAniso(yp, "yp", "axis_aniso_after"))
  }
}
