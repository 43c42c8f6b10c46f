package graft.ingest

import java.io.InputStream
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Raw-zone file operations (the reference's dbutils.fs surface:
  * put/ls/rm/head over UC Volumes — here a local/file:// directory).
  * Create-only writes model the reference's `overwrite=False` per-run
  * metadata (write-once audit records).
  */
trait FileStore {
  def listFiles(dir: String): Seq[String]
  def read(path: String): Array[Byte]
  def write(path: String, bytes: Array[Byte], overwrite: Boolean): Unit
  def delete(path: String): Unit
  def exists(path: String): Boolean
  def mkdirs(dir: String): Unit
}

object LocalFileStore extends FileStore {
  private def p(s: String): Path = Paths.get(s)

  override def listFiles(dir: String): Seq[String] =
    if (!Files.isDirectory(p(dir))) Seq.empty
    else {
      val entries = Files.list(p(dir))
      try entries.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(_.getFileName.toString)
        .toSeq.sorted
      finally entries.close()
    }

  override def read(path: String): Array[Byte] = Files.readAllBytes(p(path))

  override def write(path: String, bytes: Array[Byte], overwrite: Boolean): Unit = {
    Files.createDirectories(p(path).getParent)
    if (overwrite)
      Files.write(p(path), bytes)
    else
      Files.write(p(path), bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
  }

  override def delete(path: String): Unit = Files.deleteIfExists(p(path))

  override def exists(path: String): Boolean = Files.exists(p(path))

  override def mkdirs(dir: String): Unit = Files.createDirectories(p(dir))
}

object Hashing {

  /** Full-file SHA-256 — the strict change detector behind
    * uploaded/updated/skipped idempotency (10_ingest_bls.ipynb:122-123).
    */
  def sha256(bytes: Array[Byte]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(bytes))

  /** The same digest of a stream, read to its end. */
  def sha256(in: InputStream): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    hex(md.digest())
  }

  private[graft] def hex(digest: Array[Byte]): String = digest.map(b => f"$b%02x").mkString
}
