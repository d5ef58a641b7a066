package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry is one list of specs spread over family files; a name
  * registered twice would silently shadow the other entry once the list
  * becomes the driver's maps. */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = QueryRegistry.specs.map(_.name)

  test("the registry holds 286 specs with names unique across families") {
    assert(names.size == 286)
    assert(names.diff(names.distinct).isEmpty, "duplicate query names")
  }

  test("every spec has non-blank oracle SQL") {
    val blank = QueryRegistry.specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  test("SparkEntry.queries and SparkEntry.oracleSql name the same queries") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("every spec's oracle SQL text matches its pinned SHA-256") {
    val pinned = OracleSqlManifest.read()
    val current = OracleSqlManifest.digests()
    assert(current.map(_._1).toSet == pinned.keySet, "manifest names differ")
    val changed = current.collect { case (n, h) if pinned(n) != h => n }
    assert(changed.isEmpty, s"oracle SQL text changed: $changed")
  }
}

/** The pinned oracle SQL digests: one `name<TAB>sha256` line per spec, in
  * registry order. An intended SQL change rewrites the manifest with
  * `sbt "Test/runMain graft.queries.OracleSqlManifest"`. */
object OracleSqlManifest {
  val Path = Paths.get("src/test/resources/oracle_sql.sha256")

  def digests(): Seq[(String, String)] = QueryRegistry.specs.map { q =>
    val d = MessageDigest.getInstance("SHA-256").digest(q.oracleSql.getBytes(UTF_8))
    q.name -> d.map("%02x".format(_)).mkString
  }

  def read(): Map[String, String] =
    Files.readString(Path).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(n, h) = l.split('\t'); n -> h
    }.toMap

  def main(args: Array[String]): Unit =
    Files.writeString(Path, digests().map { case (n, h) => s"$n\t$h\n" }.mkString)
}
