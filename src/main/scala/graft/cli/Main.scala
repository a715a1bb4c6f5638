package graft.cli

import graft.core.{Archive, DirHash}
import graft.hash.{Algos, HashSpec}

/** CLI flag-compatible with the reference's `_main`
  * (/root/reference/dirhash.py:582-687): positional dir;
  * --check/-c/--verify/-v HASH; --check-name/-cn; --block-size/-b
  * (default 128M); --hash-algorithm/-a (default sha256);
  * --move-to-archive REPO; --softlink/--sl/-s LINK (archive only);
  * --check and --check-name mutually exclusive; mismatch or softlink
  * conflict exits 1.
  */
object Main {

  private case class Args(
      dir: String = null,
      check: Option[String] = None,
      checkName: Boolean = false,
      blockSize: String = HashSpec.DefaultBlockSize,
      algo: String = "sha256",
      archive: Option[String] = None,
      softlink: Option[String] = None)

  def main(argv: Array[String]): Unit = sys.exit(run(argv))

  def run(argv: Array[String]): Int = {
    val args = parse(argv.toList, Args()) match {
      case Right(a) => a
      case Left(msg) => System.err.println(msg); return 2
    }
    if (args.check.isDefined && args.checkName) {
      System.err.println("--check and --check-name are mutually exclusive")
      return 2
    }
    if (args.softlink.isDefined && args.archive.isEmpty) {
      System.err.println("--softlink requires --move-to-archive")
      return 2
    }
    if (!Algos.supported.contains(args.algo)) {
      System.err.println(s"unsupported hash algorithm: ${args.algo}")
      return 2
    }
    // Softlink conflict is checked BEFORE any hashing/archiving so a
    // conflict exits 1 with no side effects (the source is not moved) —
    // the reference pre-checks the link path first (dirhash.py:663-666).
    // Two reference semantics (ADVICE r2): the link path may equal the
    // hashed dir itself ("archive, then leave a link where the dir was",
    // dirhash.py:663 normpath comparison), and exists() follows symlinks
    // (a dangling symlink at the link path is not a conflict).
    for (link <- args.softlink) {
      val linkNorm = java.nio.file.Paths.get(link).toAbsolutePath.normalize
      val dirNorm = java.nio.file.Paths.get(args.dir).toAbsolutePath.normalize
      if (linkNorm != dirNorm && java.nio.file.Files.exists(linkNorm)) {
        System.err.println(s"softlink target already exists: $link")
        return 1
      }
    }

    // the hash runs on the caller's SparkContext if one is running, else
    // on a bare local context that DirHash creates and stops (the
    // reference's create-if-absent rule, dirhash.py:325-335) — no
    // SparkSession is built; archiving needs no Spark
    val expected: Option[String] =
      if (args.checkName) {
        // verify the directory's basename as its own hash string
        // (reference dirhash.py:636-639)
        val base = graft.fs.Listing.stripTrailingSlashes(args.dir)
        Some(base.substring(base.lastIndexOf('/') + 1))
      } else args.check

    expected match {
      case Some(hashStr) =>
        // the reference's two-line digest-only report (dirhash.py:645-661):
        // "%9s %s" pads "Actual:" to 9 chars; the trailing \n inside the
        // formatted string plus print's own newline ends output with a
        // blank line
        val expHex = HashSpec.parseHashString(hashStr).hexDigest
        val result = DirHash.verifyDirectoryHash(args.dir, hashStr)
        if (result.matches) {
          println(s"The hash values match:\nExpected: $expHex\n  Actual: ${result.actualHash}\n")
          0
        } else {
          println(s"Hash value mismatch:\nExpected: $expHex\n  Actual: ${result.actualHash}\n")
          1
        }
      case None =>
        val hashStr = DirHash.hashDirectory(args.dir, args.algo, args.blockSize)
        args.archive match {
          case Some(repo) =>
            // on archive the reference prints the NEW PATH, not the hash
            // (dirhash.py:668-669)
            val newPath = Archive.moveFolderToHashedArchive(repo, args.dir, hashStr)
            println(newPath)
            args.softlink.foreach { link =>
              // the archive already succeeded (directory moved, path
              // printed); the reference logs an `ln` failure and still
              // exits 0 (dirhash.py:671-682) — a wrapper treating
              // nonzero as "archive failed" must not retry/alarm here
              try Archive.createSoftlink(repo, hashStr, link)
              catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(s"Error while creating softlink: ${e.getMessage}")
              }
            }
            0
          case None =>
            println(hashStr)
            0
        }
    }
  }

  @annotation.tailrec
  private def parse(argv: List[String], acc: Args): Either[String, Args] = argv match {
    case Nil =>
      if (acc.dir == null) Left("usage: dirhash DIR [options]") else Right(acc)
    case ("--check" | "-c" | "--verify" | "-v") :: v :: rest =>
      parse(rest, acc.copy(check = Some(v)))
    case ("--check-name" | "-cn") :: rest => parse(rest, acc.copy(checkName = true))
    case ("--block-size" | "-b") :: v :: rest => parse(rest, acc.copy(blockSize = v))
    case ("--hash-algorithm" | "-a") :: v :: rest => parse(rest, acc.copy(algo = v))
    case "--move-to-archive" :: v :: rest => parse(rest, acc.copy(archive = Some(v)))
    case ("--softlink" | "--sl" | "-s") :: v :: rest =>
      parse(rest, acc.copy(softlink = Some(v)))
    case flag :: _ if flag.startsWith("-") => Left(s"unknown flag: $flag")
    case dir :: rest if acc.dir == null => parse(rest, acc.copy(dir = dir))
    case extra :: _ => Left(s"unexpected argument: $extra")
  }
}
