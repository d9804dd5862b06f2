package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Build-once fixtures: the persisted indexes and tables the registered
  * queries probe instead of rebuilding them per run, and the in-JVM
  * models trained once per data dir.
  *
  * A fixture dir lives at `java.io.tmpdir/graft-<kind>-<key>`, where
  * [[key]] fingerprints the data dir and every leaf file of one of its
  * tables, so a table regenerated in place gets a new dir. `build` fills
  * the dir at most once: a hidden completion marker is written after it
  * returns, and a dir without the marker is a crashed or interrupted
  * build — deleted and rebuilt, never reused. The key does not include
  * the code version, so a changed build recipe needs the stale
  * `graft-*` dirs deleted by hand.
  *
  * One JVM-wide reentrant lock guards every build and memo, so a build
  * may open other fixtures (a clone opens its source index).
  */
object Fixture {

  /** Hidden (dot-prefixed), so Spark file listings and the ingest F1
    * filter never see it.
    */
  private val Marker = ".graft_fixture_complete"

  private val complete = collection.mutable.Set.empty[String]
  private val memos = collection.mutable.Map.empty[String, Any]

  /** Fingerprint of `dataDir/table.parquet`: the dir plus every LEAF
    * file's (name, length, mtime) via the Hadoop FS — the table may be
    * a single parquet file OR a directory whose top-level size/mtime
    * don't change on in-place part-file rewrites. A missing path is an
    * error, never a constant key.
    */
  def key(s: SparkSession, dataDir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dataDir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"Fixture.key: $p does not exist")
    val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true) // recursive; a plain file lists itself
    while (it.hasNext) {
      val st = it.next()
      leaves += s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}"
    }
    val raw = s"$dataDir|${leaves.sorted.mkString(";")}"
    java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** Where the fixture of `kind` for `dataDir`'s `table` lives. */
  private[graft] def path(s: SparkSession, dataDir: String, table: String,
                          kind: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-$kind-${key(s, dataDir, table)}"

  /** The completed fixture dir of `kind` for `dataDir`'s `table`,
    * running `build(path)` first unless a complete one exists.
    */
  def dir(s: SparkSession, dataDir: String, table: String, kind: String)
         (build: String => Unit): String = synchronized {
    val path = this.path(s, dataDir, table, kind)
    if (!complete(path)) {
      val marker = Paths.get(path, Marker)
      if (!Files.exists(marker)) {
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(path))
        val t0 = System.nanoTime()
        build(path)
        Files.createDirectories(marker.getParent)
        Files.createFile(marker)
        System.err.println(
          f"[graft] $kind fixture build ($dataDir): ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      complete += path
    }
    path
  }

  /** An emptied working path of `kind`, for a fixture build whose
    * intermediate tables must start empty on every rebuild; it carries
    * no marker and is never reused on its own.
    */
  def scratch(s: SparkSession, dataDir: String, table: String,
              kind: String): String = {
    val p = path(s, dataDir, table, kind)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    p
  }

  /** `make`'s value, computed once per JVM for `key`. */
  def memo[A](key: String)(make: => A): A = synchronized {
    memos.getOrElse(key, {
      val v = make
      memos(key) = v
      v
    }).asInstanceOf[A]
  }

  /** Drop every in-JVM memo, as a fresh process would start. */
  private[graft] def forget(): Unit = synchronized {
    complete.clear()
    memos.clear()
  }
}
