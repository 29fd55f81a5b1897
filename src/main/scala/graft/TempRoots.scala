package graft

/** Repo-local temp roots for bench/verify fixtures.
  *
  * Every bench-session scratch dir (SWOB XML fixtures, streaming
  * checkpoints, persisted band indexes, scaled-rehearsal streams)
  * historically lived under `/tmp` via `Files.createTempDirectory`.
  * `/tmp` is shared with the host session and subject to external
  * reapers — the rounds 8–9 SWOB bench transient (the fixture
  * vanishing mid-session after its existence was positively
  * `require`d) had `/tmp` as the prime suspect. Rooting scratch under
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
    * looking for (VERDICT r11 item 5).
    */
  def initJvmScratch(): Unit =
    if (!sys.props.contains("derby.stream.error.file"))
      sys.props("derby.stream.error.file") = root.resolve("derby.log").toString

  /** Free bytes on the filesystem holding [[root]] — rehearsal-scale
    * runs check this before generating multi-GB fixtures (round 8's
    * sf10 attempts died twice to a filled disk with no diagnosis).
    */
  def freeBytes: Long =
    try root.toFile.getUsableSpace
    catch { case _: Throwable => Long.MaxValue }
}
