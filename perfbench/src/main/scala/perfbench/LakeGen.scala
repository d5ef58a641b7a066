package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded synthetic CSV lakes. The same (shape, seed) gives byte-identical
  * files; the generator also records the facts the output checks compare
  * the catalog against (capped rows, per-column nulls, key distinct count).
  *
  * A table is a union-group template (column names, kinds and value
  * domains shared by every table of the group, so group mates union and
  * overlap in values) plus a per-table row stream. Rows come from the
  * table's own random stream one after another, so a grown version of a
  * table (more rows) keeps the original rows as its prefix.
  */
object LakeGen {

  /** Row cap the catalog applies (the program's O1 cap). */
  val RowCap = 10000

  sealed abstract class Kind(val colType: String)
  case object Key extends Kind("integer")
  case object IntK extends Kind("integer")
  case object FloatK extends Kind("float")
  case object StrK extends Kind("string")
  case object DateK extends Kind("date")
  case object TextK extends Kind("string")

  /** One column of a group template: `lo`/`span` bound numeric and date
    * values, `vocab` is the word pool of string columns. */
  final case class ColSpec(name: String, kind: Kind, nullRate: Double,
                           lo: Long, span: Long, vocab: Int, vocabOffset: Int)

  final case class TableSpec(name: String, group: Int, cols: Vector[ColSpec],
                             baseRows: Int, malformedAt: Int, seed: Long) {
    def malformed: Boolean = malformedAt >= 0
  }

  final case class ColFacts(name: String, colType: String, numNan: Long,
                            unique: Long)

  /** What the catalog must show for one table file: `rows` is the capped
    * count of well-formed rows (the malformed row is dropped by the
    * reader), `cols(0)` is the key column. */
  final case class TableFacts(name: String, rows: Long, cols: Vector[ColFacts],
                              csvBytes: Long) {
    def cells: Long = rows * cols.size
  }

  /** Lake shape: table count, union group size, row range (log-uniform),
    * column range, and how often a file carries one malformed row. */
  final case class Shape(name: String, tables: Int, groupSize: Int,
                         rowsMin: Int, rowsMax: Int, colsMin: Int, colsMax: Int,
                         kinds: Vector[Kind], nullRateMax: Double,
                         malformedEvery: Int, keySpan: Long, numSpanMax: Long,
                         vocabMax: Int)

  val ManySmall: Shape = Shape("many_small", tables = 40, groupSize = 5,
    rowsMin = 20, rowsMax = 500, colsMin = 3, colsMax = 10,
    kinds = Vector(IntK, FloatK, StrK, DateK, TextK), nullRateMax = 0.1,
    malformedEvery = 100, keySpan = 1000, numSpanMax = 100000, vocabMax = 400)

  val FewWide: Shape = Shape("few_wide", tables = 3, groupSize = 3,
    rowsMin = 10200, rowsMax = 11000, colsMin = 12, colsMax = 12,
    kinds = Vector(IntK, FloatK, FloatK, IntK, StrK, DateK), nullRateMax = 0.02,
    malformedEvery = 0, keySpan = 10000000L, numSpanMax = 100000000L,
    vocabMax = 5000)

  /** Small lakes of the same kinds, for the untimed warm-up. */
  val ManySmallWarm: Shape = ManySmall.copy(name = "many_small_warm", tables = 5)
  val FewWideWarm: Shape = FewWide.copy(name = "few_wide_warm", tables = 1,
    groupSize = 1, rowsMin = 3000, rowsMax = 4000)

  final case class Lake(dir: Path, shape: Shape,
                        specs: Vector[TableSpec], facts: Vector[TableFacts]) {
    def csvBytes: Long = facts.map(_.csvBytes).sum
    def cells: Long = facts.map(_.cells).sum
  }

  private def mix(a: Long, b: Long): Long = new SplittableRandom(a * 0x9E3779B97F4A7C15L + b).nextLong()

  /** Stratified draw of `n` values in `[0, 1)`, the i-th in the i-th
    * stratum, so a lake's structure and totals (cells, bytes) barely move
    * from seed to seed while its content changes. */
  private def strata(n: Int, rng: SplittableRandom): Vector[Double] =
    Vector.tabulate(n)(i => (i + rng.nextDouble()) / n)

  /** The table plan of a lake: names, group templates, row counts and
    * which files get a malformed row. Group g's width comes from the g-th
    * width stratum and its columns cycle through the kinds from kind g;
    * its i-th table's rows come from the i-th row block. The seed sets the
    * values within those strata and the content. */
  def plan(shape: Shape, seed: Long): Vector[TableSpec] = {
    val rng = new SplittableRandom(mix(seed, shape.name.hashCode.toLong))
    val groups = (shape.tables + shape.groupSize - 1) / shape.groupSize
    val widths = strata(groups, rng).map(u =>
      shape.colsMin + (u * (shape.colsMax - shape.colsMin + 1)).toInt)
    val templates = Vector.tabulate(groups) { g =>
      val keyLo = g.toLong * shape.keySpan / 2
      Vector.tabulate(widths(g)) { j =>
        if (j == 0) ColSpec(s"g${g}_key", Key, 0.0, keyLo, shape.keySpan, 0, 0)
        else {
          val kind = shape.kinds((g + j) % shape.kinds.size)
          val nullRate = rng.nextDouble() * shape.nullRateMax
          val span = 10L + (rng.nextDouble() * shape.numSpanMax).toLong
          val lo = kind match {
            case DateK => 10000L + rng.nextInt(8000)
            case _     => rng.nextLong(2000000L) - 1000000L
          }
          val vocab = 8 + rng.nextInt(shape.vocabMax)
          ColSpec(s"g${g}_c${j}_${kind.colType}", kind, nullRate,
            lo, if (kind == DateK) math.min(span, 3000L) else span,
            vocab, rng.nextInt(1000))
        }
      }
    }
    val nMalformed =
      if (shape.malformedEvery <= 0) 0 else math.max(1, shape.tables / shape.malformedEvery)
    val malformed = Iterator.continually(rng.nextInt(shape.tables))
      .distinct.take(nMalformed).toSet
    val logLo = math.log(shape.rowsMin.toDouble)
    val logHi = math.log(shape.rowsMax.toDouble)
    val blocks = Vector.fill(shape.groupSize)(strata(groups, rng))
    Vector.tabulate(shape.tables) { t =>
      val (g, i) = (t / shape.groupSize, t % shape.groupSize)
      val u = (i + blocks(i)(g)) / shape.groupSize
      val rows = math.exp(logLo + u * (logHi - logLo)).round.toInt
      val at = if (malformed(t)) 1 + rng.nextInt(rows - 1) else -1
      TableSpec(f"t$t%04d_g$g", g, templates(g), rows, at, rng.nextLong())
    }
  }

  /** Rows a table has after `generation` growth steps (0 = as planned). */
  def rowsAt(spec: TableSpec, generation: Int): Int =
    spec.baseRows + generation * math.max(5, spec.baseRows / 4)

  private val Syllables = Array("ba", "ko", "ti", "re", "mu", "sa", "lo", "ne",
    "vi", "da", "pe", "gu", "ra", "zo", "fi", "ka")

  /** A pronounceable word for vocabulary index `i` (never a number, date
    * or boolean, so string columns stay strings). */
  def word(i: Int): String = {
    val sb = new StringBuilder("w")
    var v = i
    do { sb.append(Syllables(v & 15)); v >>>= 4 } while (v > 0)
    sb.toString
  }

  private def appendCents(sb: java.lang.StringBuilder, cents: Long): Unit = {
    if (cents < 0) sb.append('-')
    val a = math.abs(cents)
    sb.append(a / 100).append('.')
    val c = a % 100
    if (c < 10) sb.append('0')
    sb.append(c)
  }

  private def appendValue(sb: java.lang.StringBuilder, c: ColSpec,
                          rng: SplittableRandom): Unit = c.kind match {
    case Key | IntK => sb.append(c.lo + rng.nextLong(c.span))
    case FloatK     => appendCents(sb, c.lo * 100 + rng.nextLong(c.span * 100))
    case StrK       => sb.append(word(c.vocabOffset + rng.nextInt(c.vocab)))
    case DateK      => sb.append(java.time.LocalDate.ofEpochDay(c.lo + rng.nextLong(c.span)))
    case TextK =>
      val n = 3 + rng.nextInt(6)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(word(c.vocabOffset + rng.nextInt(c.vocab)))
        k += 1
      }
  }

  /** CSV bytes and facts of `spec` with `rows` well-formed rows. */
  def render(spec: TableSpec, rows: Int): (Array[Byte], TableFacts) = {
    val rng = new SplittableRandom(spec.seed)
    val cols = spec.cols
    val n = cols.size
    val sb = new java.lang.StringBuilder(rows * n * 8 + 64)
    sb.append(cols.map(_.name).mkString(",")).append('\n')
    val nulls = new Array[Long](n)
    val keys = new java.util.HashSet[String]()
    val capped = math.min(rows, RowCap)
    var r = 0
    while (r < rows) {
      if (r == spec.malformedAt) {
        // one row with an extra field: the strict decoder rejects the file
        // and the fallback reader drops the row
        var j = 0
        while (j < n) { appendValue(sb, cols(j), rng); sb.append(','); j += 1 }
        appendValue(sb, cols(n - 1), rng)
        sb.append('\n')
      }
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(',')
        val c = cols(j)
        // the first row is fully populated so no column infers as all-null
        if (r > 0 && c.nullRate > 0 && rng.nextDouble() < c.nullRate) {
          if (r < capped) nulls(j) += 1
        } else {
          val start = sb.length
          appendValue(sb, c, rng)
          if (j == 0 && r < capped) keys.add(sb.substring(start))
        }
        j += 1
      }
      sb.append('\n')
      r += 1
    }
    val bytes = sb.toString.getBytes(UTF_8)
    val facts = TableFacts(spec.name, capped,
      cols.zipWithIndex.map { case (c, j) =>
        ColFacts(c.name, c.kind.colType, nulls(j),
          if (j == 0) keys.size.toLong else -1L)
      }, bytes.length.toLong)
    (bytes, facts)
  }

  /** Generate (or reuse) the lake of `shape` and `seed` under `root`. Runs
    * of one seed share its files; a file that differs from what the
    * generator renders now (left by another version of it) is rewritten,
    * and files the plan does not name are removed. */
  def lake(root: Path, shape: Shape, seed: Long): Lake = {
    // the shape is part of the name, so a changed shape never reuses files
    val tag = java.util.UUID.nameUUIDFromBytes(shape.toString.getBytes(UTF_8))
      .toString.take(8)
    val dir = root.resolve(s"${shape.name}-$seed-$tag")
    val specs = plan(shape, seed)
    Files.createDirectories(dir)
    val names = specs.map(_.name + ".csv").toSet
    val listing = Files.list(dir)
    try listing.filter(p => !names(p.getFileName.toString)).forEach(p => Files.delete(p))
    finally listing.close()
    val facts = specs.map { s =>
      val (bytes, f) = render(s, s.baseRows)
      val file = dir.resolve(s.name + ".csv")
      if (!Files.exists(file) || !java.util.Arrays.equals(Files.readAllBytes(file), bytes))
        Files.write(file, bytes)
      f
    }
    Lake(dir, shape, specs, facts)
  }

  /** Write the grown version (`generation` growth steps) of `spec` into
    * `dir`, under the table's own file name; returns its facts. */
  def writeGrown(dir: Path, spec: TableSpec, generation: Int): TableFacts = {
    Files.createDirectories(dir)
    val (bytes, f) = render(spec, rowsAt(spec, generation))
    Files.write(dir.resolve(spec.name + ".csv"), bytes)
    f
  }
}
