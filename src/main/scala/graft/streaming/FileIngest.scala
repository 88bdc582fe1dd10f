package graft.streaming

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.nio.file.attribute.PosixFileAttributeView
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.functions.Blake2b

/** Per-file ingestion primitives: stat scan (S7), streamed file
  * checksum (S8), hash-file side write (K4). The bounded open-retry
  * (S10) is [[graft.sources.Hdf5Reader.fileReaderWith]]'s.
  * These run inside tasks (one file row each) — the Spark analogue of
  * the reference's per-file child process.
  */
object FileIngest {

  final case class FileStats(
      path: String,
      size: Option[Long],
      time: String,
      chk: Option[String],
      uid: Option[String],
      gid: Option[String],
      perm: Option[String])

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")

  /** ref: _create_single_data_file_list_item, scicat_dataset.py:554-589. */
  def stat(pathStr: String, computeHash: Boolean = false,
      hashAlgorithm: String = "blake2b"): FileStats = {
    val path = Paths.get(pathStr)
    if (!Files.exists(path))
      return FileStats(pathStr, None, isoNow(Instant.now()), None, None, None, None)
    val size = Files.size(path)
    val mtime = Files.getLastModifiedTime(path).toInstant
    val posix = Option(Files.getFileAttributeView(
      path, classOf[PosixFileAttributeView], LinkOption.NOFOLLOW_LINKS))
      .map(_.readAttributes())
    // F11: a file that cannot be read keeps its row, with a null chk
    val chk = Option.when(computeHash)(path).flatMap { p =>
      try Some(checksum(p, hashAlgorithm)) catch {
        case e: java.io.IOException =>
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"checksum skipped (io: ${e.getMessage}): $pathStr")
          None
      }
    }
    FileStats(pathStr, Some(size), isoNow(mtime), chk,
      posix.map(_.owner().getName), posix.map(_.group().getName),
      posix.map(p => java.nio.file.attribute.PosixFilePermissions.toString(p.permissions())))
  }

  private def isoNow(i: Instant): String =
    i.atOffset(ZoneOffset.UTC).format(tsFmt)

  /** Hex digest of the file under a hashlib-named algorithm, read in
    * 128 KiB blocks so a multi-GB data file is never held in memory
    * (ref: _calculate_checksum, scicat_dataset.py:532-551): `blake2b`
    * (512-bit), or any JDK digest such as `md5`, `sha1`, `sha256`. */
  def checksum(path: Path, algorithm: String = "blake2b"): String = {
    val in = Files.newInputStream(path)
    val bytes = try {
      if (algorithm == "blake2b") {
        val hasher = new Blake2b.Hasher()
        drain(in, hasher.update(_, _, _))
        hasher.digest()
      } else {
        val md = digest(algorithm)
        drain(in, md.update(_, _, _))
        md.digest()
      }
    } finally in.close()
    Blake2b.hex(bytes)
  }

  private def drain(in: java.io.InputStream, update: (Array[Byte], Int, Int) => Unit): Unit = {
    val buf = new Array[Byte](128 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      update(buf, 0, n)
      n = in.read(buf)
    }
  }

  /** The JDK digest for a hashlib name (`sha256` → `SHA-256`); throws
    * `NoSuchAlgorithmException` for a name neither side knows. */
  def digest(algorithm: String): MessageDigest =
    MessageDigest.getInstance(algorithm.toLowerCase match {
      case a if a.startsWith("sha3_") => "SHA3-" + a.drop(5)
      case a if a.matches("sha\\d+") => "SHA-" + a.drop(3)
      case a => a.toUpperCase
    })
}
