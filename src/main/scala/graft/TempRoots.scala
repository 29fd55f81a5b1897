package graft

/** Repo-local temp roots for bench/verify fixtures.
  *
  * Every bench-session scratch dir (SWOB XML fixtures, streaming
  * checkpoints, persisted band indexes, scaled-rehearsal streams)
  * historically lived under `/tmp` via `Files.createTempDirectory`.
  * `/tmp` is shared with the host session and subject to external
  * reapers — a SWOB fixture once vanished mid-session after its
  * existence was positively `require`d. Rooting scratch under
  * the repo's own `target/bench-tmp` removes that entire failure
  * class: nothing outside this JVM touches the tree, and `sbt clean`
  * reclaims it.
  */
object TempRoots {
  lazy val root: java.nio.file.Path = {
    val candidates = Seq(
      java.nio.file.Paths.get("target", "bench-tmp"),
      java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-bench-tmp")
    )
    candidates.flatMap { p =>
      try {
        java.nio.file.Files.createDirectories(p)
        Some(p.toAbsolutePath)
      } catch { case _: Throwable => None }
    }.head
  }

  /** A fresh scratch directory under [[root]]. */
  def newDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(root, prefix)

  /** Recursive best-effort delete of a scratch tree, deepest paths
    * first; a missing `path` is a no-op.
    */
  def rmTree(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val top = Paths.get(path)
    if (Files.exists(top)) {
      val all = scala.util.Using.resource(Files.walk(top))(_.iterator().asScala.toSeq).reverse
      all.foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    }
  }

  /** Where every engine-owned SparkSession points
    * `spark.sql.warehouse.dir` — by default Spark creates
    * `spark-warehouse/` in user.dir (the repo root), outside the
    * cleaned scratch tree.
    */
  def warehouseDir: String = root.resolve("spark-warehouse").toString

  /** JVM-wide scratch redirection, called by [[Session.local]] before
    * the first Derby or Spark use: embedded Derby writes `derby.log` to user.dir
    * unless `derby.stream.error.file` says otherwise. State
    * accumulating outside [[root]] is invisible to `sbt clean` and is
    * exactly the slow systemic cost the bench-noise postmortems go
    * looking for.
    */
  def initJvmScratch(): Unit =
    if (!sys.props.contains("derby.stream.error.file"))
      sys.props("derby.stream.error.file") = root.resolve("derby.log").toString

  /** Free bytes on the filesystem holding [[root]] — rehearsal-scale
    * runs check this before generating multi-GB fixtures (a filled
    * disk otherwise kills an sf10 run with no diagnosis).
    */
  def freeBytes: Long =
    try root.toFile.getUsableSpace
    catch { case _: Throwable => Long.MaxValue }
}
