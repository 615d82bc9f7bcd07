package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for checkpoints on the local filesystem that
  * writes each file without starting a process.
  *
  * Without Hadoop's native library, the local filesystem sets permissions
  * by forking `chmod`, and Spark's default `FileContext` manager also
  * forks `readlink` four times per rename: ten forks, ~45 ms, for every
  * offset, commit, sink-log and state-store file. Here the write-side
  * calls (temp-file create, rename, mkdirs) go through `java.nio.file`
  * instead. Reads, listings, `exists` and `delete` stay with the parent.
  * No `.crc` sidecar is written; the parent's reads accept a file
  * without one.
  *
  * Registered for the one-shot drains by `StreamingQ.drainConfs`
  * (`spark.sql.streaming.checkpointFileManagerClass`). */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  require(fs.getScheme == "file",
    s"LocalCheckpointFileManager writes only file: paths, got $path")

  private def local(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val file = local(p)
    Files.createDirectories(file.getParent)
    new FSDataOutputStream(Files.newOutputStream(file), null)
  }

  /** `HDFSMetadataLog` tells a second writer of the same batch by this
    * exception, so a taken target fails exactly as in the parent. As
    * there, the check and the move are two steps; a drain checkpoint has
    * one writer. An overwrite replaces the target in one `rename(2)`. */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val target = local(dst)
    if (!overwriteIfPossible && Files.exists(target))
      throw new FileAlreadyExistsException(
        s"Failed to rename $src to $dst as destination already exists")
    Files.move(local(src), target, StandardCopyOption.ATOMIC_MOVE)
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def createCheckpointDirectory(): Path = {
    mkdirs(path)
    fs.makeQualified(path)
  }
}
