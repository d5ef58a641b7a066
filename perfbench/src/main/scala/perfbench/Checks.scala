package perfbench

import perfbench.LakeGen.TableFacts

/** One catalog profile row, as far as the checks read it. */
final case class ProfRow(table: String, col: String, colType: String,
                         rows: Long, numNan: Long, unique: Long)

/** One search answer row. `matched` is the matched column count (0 for a
  * content-snapshot search) and `dist` the ranking distance: `sum_dist`,
  * or minus the snapshot Jaccard, so every answer orders the same way. */
final case class Hit(table: String, matched: Long, dist: Double)

/** Output checks. Each returns the list of problems; an operation with
  * any problem counts as failed. */
object Checks {

  private def profileFacts(byTable: Map[String, Seq[ProfRow]],
                           f: TableFacts): Seq[String] =
    byTable.get(f.name) match {
      case None => Seq(s"${f.name}: no profile rows")
      case Some(rows) =>
        val got = rows.map(r => r.col -> r).toMap
        val names = f.cols.map(_.name)
        val shape =
          if (rows.size != names.size || got.keySet != names.toSet)
            Seq(s"${f.name}: columns ${rows.map(_.col).sorted.mkString(",")} " +
              s"!= generated ${names.sorted.mkString(",")}")
          else Nil
        shape ++ f.cols.zipWithIndex.flatMap { case (c, j) =>
          got.get(c.name).toSeq.flatMap { r =>
            Seq(
              Option.when(r.colType != c.colType)(s"type ${r.colType} != ${c.colType}"),
              Option.when(r.rows != f.rows)(s"rows ${r.rows} != ${f.rows}"),
              Option.when(r.numNan != c.numNan)(s"num_nan ${r.numNan} != ${c.numNan}"),
              Option.when(j == 0 && r.unique != c.unique)(s"unique ${r.unique} != ${c.unique}")
            ).flatten.map(m => s"${f.name}.${c.name}: $m")
          }
        }
    }

  /** The catalog's profiles: every table of `facts` and no other, each
    * with one row per generated column and rows / num_nan / key unique as
    * generated. */
  def profiles(profiles: Seq[ProfRow], facts: Seq[TableFacts]): Seq[String] = {
    val byTable = profiles.groupBy(_.table)
    val extra = (byTable.keySet -- facts.map(_.name)).toSeq.sorted
      .map(t => s"$t: profiled but not generated")
    extra ++ facts.flatMap(profileFacts(byTable, _))
  }

  /** A built catalog: the profiles as generated and one snapshot per
    * table. */
  def catalog(profileRows: Seq[ProfRow], snapshotTables: Seq[String],
              facts: Seq[TableFacts]): Seq[String] = {
    val snaps = snapshotTables.groupBy(identity).map { case (t, s) => t -> s.size }
    val snapProblems = facts.flatMap { f =>
      snaps.getOrElse(f.name, 0) match {
        case 1 => None
        case n => Some(s"${f.name}: $n snapshots")
      }
    } ++ (snaps.keySet -- facts.map(_.name)).toSeq.sorted.map(t => s"$t: stray snapshot")
    profiles(profileRows, facts) ++ snapProblems
  }

  /** A well-formed top-k answer: at most `k` tables, each known and listed
    * once, no self-hit, ordered by (-matched, dist, table). */
  def answer(query: String, hits: Seq[Hit], k: Int, known: Set[String]): Seq[String] = {
    val size = Option.when(hits.size > k)(s"${hits.size} tables > k=$k")
    val self = Option.when(hits.exists(_.table == query))(s"self-hit on $query")
    val dup = Option.when(hits.map(_.table).distinct.size != hits.size)("a table listed twice")
    val unknown = hits.map(_.table).filterNot(known).map(t => s"unknown table $t")
    val order = hits.zip(hits.drop(1)).collect {
      case (a, b) if !ordered(a, b) => s"out of order: $a before $b"
    }
    (size ++ self ++ dup).toSeq ++ unknown ++ order
  }

  /** A full answer has `size` tables: min(k, other tables). Every
    * generated table has an integer key column, so every other table is a
    * candidate of each search kind. */
  def full(hits: Seq[Hit], size: Int): Seq[String] =
    Option.when(hits.size != size)(s"${hits.size} tables, expected $size").toSeq

  private def ordered(a: Hit, b: Hit): Boolean =
    a.matched > b.matched ||
      (a.matched == b.matched && (a.dist < b.dist ||
        (a.dist == b.dist && a.table < b.table)))
}
