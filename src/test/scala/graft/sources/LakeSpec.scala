package graft.sources

import graft.SparkSpec

class LakeSpec extends SparkSpec {

  test("Lake.read leaves the session conf unchanged") {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("lake-read").toString
    s.range(3).toDF("id").write.parquet(s"$dir/t.parquet")
    val before = s.conf.getAll
    assert(Lake.read(s, dir, "t").count() == 3)
    assert(s.conf.getAll == before)
  }
}
