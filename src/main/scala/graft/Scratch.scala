package graft

/** RAM-backed scratch root for single-node harness I/O: shuffle/spill
  * local dirs and streaming sink/checkpoint scratch.
  *
  * Why: the local[N] harness multiplexes a whole "cluster"'s scratch
  * traffic onto one host volume, and host-side writeback throttling
  * (measured on a round-4 box: buffered writes held at ~20 MB/s while
  * O_DIRECT ran 200+ MB/s) turns sub-second queries into minute-long
  * ones — a property of the host, not the engine. Pointing scratch at
  * `/dev/shm` (tmpfs) keeps the measurement about the plan. On a real
  * cluster this knob is moot: the cluster manager provisions per-node
  * NVMe for `spark.local.dir`, and checkpoint locations go to durable
  * storage precisely because they must survive node loss — only the
  * single-JVM harness gets the RAM-backed shortcut.
  *
  * The one-shot streaming drains checkpoint here through
  * [[streaming.LocalCheckpointFileManager]], which writes each checkpoint
  * file without forking a process.
  */
object Scratch {
  import java.nio.file.{Files, Path, Paths}

  /** `/dev/shm` when present and writable (Linux tmpfs), else the JVM
    * temp dir. */
  lazy val root: String = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm.toString
    else sys.props("java.io.tmpdir")
  }

  /** A fresh scratch directory under [[root]], deleted with everything
    * in it when the JVM exits, so repeated runs don't fill the tmpfs. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(Paths.get(root), prefix)
    sys.addShutdownHook(deleteTree(dir))
    dir
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
