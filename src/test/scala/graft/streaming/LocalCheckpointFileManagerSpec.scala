package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}

import graft.SparkTestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The drains' checkpoint manager keeps the parent's atomic-publish
  * contract: a file appears whole or not at all, a taken name fails the
  * way `HDFSMetadataLog` expects, and a published or cancelled write
  * leaves nothing beside its target. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: LocalCheckpointFileManager, file: NioPath, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(file.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: NioPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.toArray.map(_.asInstanceOf[NioPath].getFileName.toString).toSet
    finally ls.close()
  }

  test("createAtomic + close publishes the bytes and leaves no temp or .crc file") {
    val dir = graft.Scratch.tempDir("lcfm-")
    val file = dir.resolve("offsets").resolve("0")
    write(manager(dir), file, "v1", overwrite = false)
    assert(Files.readString(file) == "v1")
    assert(names(file.getParent) == Set("0"))
  }

  test("a no-overwrite publish onto an existing file fails and keeps the original") {
    val dir = graft.Scratch.tempDir("lcfm-")
    val file = dir.resolve("1")
    val fm = manager(dir)
    write(fm, file, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, file, "second", overwrite = false))
    assert(Files.readString(file) == "first")
  }

  test("an overwrite publish replaces the bytes") {
    val dir = graft.Scratch.tempDir("lcfm-")
    val file = dir.resolve("2")
    val fm = manager(dir)
    write(fm, file, "old", overwrite = false)
    write(fm, file, "new", overwrite = true)
    assert(Files.readString(file) == "new")
    assert(names(dir) == Set("2"))
  }

  test("cancel() leaves neither the target nor the temp file") {
    val dir = graft.Scratch.tempDir("lcfm-")
    val out = manager(dir).createAtomic(new Path(dir.resolve("3").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("createCheckpointDirectory creates the root and returns it qualified") {
    val root = graft.Scratch.tempDir("lcfm-").resolve("ckpt")
    val made = manager(root).createCheckpointDirectory()
    assert(Files.isDirectory(root))
    assert(made.toUri.getScheme == "file" && Paths.get(made.toUri) == root)
  }

  test("a drain session's Hadoop conf selects the manager") {
    val sess = graft.queries.StreamingQ.drainSession(SparkTestSession.spark)
    val dir = graft.Scratch.tempDir("lcfm-")
    val hadoopConf = sess.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
  }

  test("the constructor rejects a path that is not on the local filesystem") {
    val e = intercept[IllegalArgumentException](
      new LocalCheckpointFileManager(new Path("http://localhost/ckpt"), new Configuration()))
    assert(e.getMessage.contains("file: paths"))
  }
}
