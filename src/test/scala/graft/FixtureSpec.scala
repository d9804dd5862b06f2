package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.Versioned

/** The build-once fixture protocol ([[Fixture]]): a fixture dir without
  * its completion marker is a crashed build and is rebuilt from scratch,
  * and a complete dir is reused — the same instance inside one JVM, and
  * without a rebuild when a fresh process (a cleared memo) opens it.
  */
class FixtureSpec extends SparkSpec {

  /** A private data dir holding one testdata table, so its fixture key
    * is this spec's alone.
    */
  private def dataDir(table: String): String = {
    val dir = Files.createTempDirectory("graft_fixture").toString
    Files.copy(Paths.get(s"/root/testdata/sf0.001/$table.parquet"),
      Paths.get(dir, s"$table.parquet"))
    dir
  }

  test("a versioned fixture left by a crashed build (v1 committed, no " +
    "marker) is wiped and rebuilt, never appended to") {
    val dir = dataDir("documents")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val root = Fixture.path(spark, dir, "documents", "versioned")
    // the state a build killed after its first commit leaves behind
    Versioned.append(spark, root, docs.filter(col("doc_id") % 2 === 0))
    assert(Versioned.latestVersion(spark, root) == 1L)

    val perVersion = SparkEntry.queries("q226_versioned_reads")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val src = docs.agg(count(lit(1)), sum(col("n_chars"))).head()
    val (nSrc, charsSrc) = (src.getLong(0), src.getLong(1))
    val head = Versioned.readAsOf(spark, root)
      .agg(count(lit(1)), sum(col("n_chars"))).head()
    assert((head.getLong(0), head.getLong(1)) == ((nSrc, charsSrc)),
      "the rebuilt table must hold each source row once")
    assert(Versioned.latestVersion(spark, root) == 2L)
    assert(perVersion.last == ((2L, nSrc, charsSrc)))
  }

  test("a complete fixture dir is reused: the same instance in one JVM, " +
    "no rebuild after the in-JVM memo is cleared") {
    val dir = dataDir("embeddings")
    val i1 = SparkEntry.pqIndexFor(spark, dir)
    assert(SparkEntry.pqIndexFor(spark, dir) eq i1)

    val path = Paths.get(SparkEntry.pqPathFor(spark, dir))
    def files(): Map[String, Long] = {
      val s = Files.walk(path)
      try s.iterator().asScala.map(p =>
        p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = files()
    Fixture.forget() // what a fresh process starts with
    val i2 = SparkEntry.pqIndexFor(spark, dir)
    assert(!(i2 eq i1), "the cleared memo still served the old instance")
    assert(files() == before, "a complete fixture dir was rebuilt")
    assert(i2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      i1.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }
}
