package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import perfbench.LakeGen.{ColFacts, TableFacts}

class PerfbenchSpec extends AnyFunSuite {

  private def tree(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("the same seed gives byte-identical lakes and facts; another seed does not") {
    val root = Files.createTempDirectory("perfbench-spec")
    try {
      val shape = LakeGen.ManySmall.copy(tables = 12)
      val a = LakeGen.lake(root.resolve("a"), shape, 7)
      val b = LakeGen.lake(root.resolve("b"), shape, 7)
      val c = LakeGen.lake(root.resolve("c"), shape, 8)
      assert(tree(a.dir) == tree(b.dir))
      assert(a.facts == b.facts)
      assert(tree(a.dir) != tree(c.dir))
      // a reused lake reports the same facts as a freshly written one
      assert(LakeGen.lake(root.resolve("a"), shape, 7).facts == a.facts)
      // a lake left by another generator version is brought back in line
      Files.write(a.dir.resolve(a.specs.head.name + ".csv"), "k\n1\n".getBytes("UTF-8"))
      Files.write(a.dir.resolve("stray.csv"), "k\n1\n".getBytes("UTF-8"))
      LakeGen.lake(root.resolve("a"), shape, 7)
      assert(tree(a.dir) == tree(b.dir))
    } finally {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  test("a grown table keeps the original rows as its prefix") {
    val spec = LakeGen.plan(LakeGen.ManySmall.copy(tables = 5), 3).head
    val (base, f0) = LakeGen.render(spec, LakeGen.rowsAt(spec, 0))
    val (grown, f1) = LakeGen.render(spec, LakeGen.rowsAt(spec, 1))
    assert(grown.startsWith(base))
    assert(f1.rows > f0.rows)
  }

  test("facts count rows, nulls and key values of the capped well-formed rows") {
    val spec = LakeGen.plan(LakeGen.ManySmall.copy(tables = 100), 1)
      .find(_.malformed).get
    val (bytes, f) = LakeGen.render(spec, spec.baseRows)
    val lines = new String(bytes, "UTF-8").split("\n").toSeq
    val header = lines.head.split(",", -1)
    val rows = lines.tail.map(_.split(",", -1)).filter(_.length == header.length)
    assert(lines.tail.size == rows.size + 1, "exactly one malformed row")
    assert(f.rows == rows.size)
    header.indices.foreach { j =>
      assert(f.cols(j).numNan == rows.count(_(j).isEmpty))
    }
    assert(f.cols.head.unique == rows.map(_(0)).distinct.size)
  }

  private val facts = Seq(TableFacts("t1", 20,
    Vector(ColFacts("k", "integer", 0, 15), ColFacts("v", "string", 3, -1)), 100))
  private val good = Seq(ProfRow("t1", "k", "integer", 20, 0, 15),
    ProfRow("t1", "v", "string", 20, 3, 9))

  test("a catalog matching the generated facts passes") {
    assert(Checks.catalog(good, Seq("t1"), facts).isEmpty)
  }

  test("a wrong rows value fails the catalog and the upsert check") {
    val bad = good.map(r => if (r.col == "v") r.copy(rows = 19) else r)
    assert(Checks.catalog(bad, Seq("t1"), facts).exists(_.contains("rows 19 != 20")))
    assert(Checks.profiles(bad, facts).nonEmpty)
  }

  test("an upsert that drops or changes a table it did not grow fails") {
    val other = TableFacts("t2", 8, Vector(ColFacts("k", "integer", 0, 8)), 40)
    val otherRow = ProfRow("t2", "k", "integer", 8, 0, 8)
    assert(Checks.profiles(good :+ otherRow, facts :+ other).isEmpty)
    assert(Checks.profiles(good, facts :+ other).exists(_.contains("t2: no profile rows")))
    assert(Checks.profiles(good :+ otherRow.copy(rows = 10), facts :+ other).nonEmpty)
  }

  test("missing columns, extra tables and missing snapshots fail the catalog") {
    assert(Checks.catalog(good.take(1), Seq("t1"), facts).nonEmpty)
    assert(Checks.catalog(good :+ ProfRow("t9", "k", "integer", 5, 0, 5), Seq("t1"), facts)
      .nonEmpty)
    assert(Checks.catalog(good, Nil, facts).nonEmpty)
    assert(Checks.catalog(good, Seq("t1", "t1"), facts).nonEmpty)
  }

  private val known = Set("q", "a", "b", "c")
  private val answer = Seq(Hit("a", 3, 0.5), Hit("b", 3, 0.7), Hit("c", 2, 0.1))

  test("a well-formed answer passes") {
    assert(Checks.answer("q", answer, 10, known).isEmpty)
    // ties on (matched, dist) order by table name
    assert(Checks.answer("q", Seq(Hit("a", 1, 0.5), Hit("b", 1, 0.5)), 10, known).isEmpty)
  }

  test("a corrupted answer fails") {
    assert(Checks.answer("q", answer.reverse, 10, known).nonEmpty, "out of order")
    assert(Checks.answer("q", answer :+ Hit("q", 1, 0.9), 10, known).nonEmpty, "self-hit")
    assert(Checks.answer("q", answer, 2, known).nonEmpty, "more than k")
    assert(Checks.answer("q", answer :+ Hit("zz", 1, 0.9), 10, known).nonEmpty, "unknown")
    assert(Checks.answer("q", Seq(Hit("b", 1, 0.5), Hit("a", 1, 0.5)), 10, known).nonEmpty,
      "tie broken against the table name")
  }

  test("a short or empty answer fails") {
    assert(Checks.full(answer, 3).isEmpty)
    assert(Checks.full(answer.take(2), 3).nonEmpty, "short")
    assert(Checks.full(Nil, 3).nonEmpty, "empty")
  }

  test("self time is the span minus what its children cover, and adds up to the wall") {
    def sp(id: Int, parent: Int, s: Long, e: Long) = Span(id, s"s$id", parent, 0, s, e, s, e)
    // root [0,100) with children [10,40) and [30,60) (overlapping) and
    // [70,90); the second child has a grandchild [35,50)
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 40), sp(2, 0, 30, 60),
      sp(3, 2, 35, 50), sp(4, 0, 70, 90))
    val self = Span.selfNs(spans)
    assert(self == Map(0 -> 30L, 1 -> 30L, 2 -> 15L, 3 -> 15L, 4 -> 20L))
    // non-overlapping children: the self times sum to the root's wall
    val flat = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 40), sp(2, 0, 40, 60),
      sp(3, 2, 45, 50), sp(4, 0, 70, 90))
    assert(Span.selfNs(flat).values.sum == 100L)
  }

  test("interval cover clips to the window and merges overlaps") {
    assert(Span.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17)
    assert(Span.covered(Nil, 0, 10) == 0)
  }

  test("quantiles interpolate between ranks") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75) == 4.0)
    assert(Stats.quantile(Nil, 0.5).isNaN)
  }
}
