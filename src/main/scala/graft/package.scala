import java.nio.file.{Files, Path, Paths}

/** Process-wide paths shared by the tools and operators. */
package object graft {

  /** The repository checkout that tools write their artifacts into:
    * SPARK_GRAFT_REPO, else the working directory. */
  lazy val repoRoot: Path = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO", "."))

  /** A fresh directory under java.io.tmpdir, unique to this process (a
    * fixed path would let two concurrent JVMs clobber each other's files),
    * deleted with everything in it when the JVM exits (a directory per
    * call that outlived the process leaked under /tmp on every run). */
  def jvmScratchDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    p
  }
}
