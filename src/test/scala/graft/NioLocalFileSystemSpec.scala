package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` FileSystem and FileContext are the java.nio
  * ones, and they create and stat files as Hadoop's own do. */
class NioLocalFileSystemSpec extends SparkSpecBase {

  private val root = tempDir("graft-niofs")

  private def conf = spark.sessionState.newHadoopConf()

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The rwx string of a Hadoop permission with the conf's umask applied. */
  private def masked(p: FsPermission): String = p.applyUMask(FsPermission.getUMask(conf)).toString

  test("the session's file: FileSystem and FileContext resolve to the nio classes") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs], fc.getDefaultFileSystem.getClass.getName)
  }

  test("created files and directories get Hadoop's permission bits, umask applied") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    val dir = new Path(root.toUri.toString, "a/b")
    assert(fs.mkdirs(dir))
    assert(mode(root.resolve("a/b")) == masked(FsPermission.getDirDefault))
    val file = new Path(dir, "part-0.parquet")
    val out = fs.create(file)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(mode(root.resolve("a/b/part-0.parquet")) == masked(FsPermission.getFileDefault))
    fs.setPermission(file, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode(root.resolve("a/b/part-0.parquet")) == "rw-r-----")
    // a missing file is reported as Hadoop reports it
    intercept[java.io.FileNotFoundException](
      fs.setPermission(new Path(dir, "missing"), new FsPermission(Integer.parseInt("600", 8).toShort)))
    // the FileContext path (streaming checkpoints) creates alike
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    val ck = new Path(root.toUri.toString, "ckpt/offsets")
    fc.mkdir(ck, FsPermission.getDirDefault, true)
    assert(mode(root.resolve("ckpt/offsets")) == masked(FsPermission.getDirDefault))
  }

  test("link status: a plain file is its own status, a symlink still resolves as a link") {
    val fs = FileSystem.get(new URI("file:///"), conf).asInstanceOf[NioLocalFileSystem].getRawFileSystem
    val hadoop = new org.apache.hadoop.fs.RawLocalFileSystem
    hadoop.initialize(new URI("file:///"), conf)
    val target = Files.write(root.resolve("target.txt"), Array[Byte](7, 7))
    val link = Files.createSymbolicLink(root.resolve("link.txt"), target)
    def seen(st: org.apache.hadoop.fs.FileStatus) =
      (st.getPath, st.isSymlink, st.isFile, st.getLen, if (st.isSymlink) st.getSymlink else null)
    // a plain file under both paths, and a link under a plain path, as
    // Hadoop's own code answers them
    for (path <- Seq(new Path(target.toString), new Path(target.toUri), new Path(link.toString)))
      assert(seen(fs.getFileLinkStatus(path)) == seen(hadoop.getFileLinkStatus(path)), path)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 2)
    // a link under a qualified path: Hadoop's readlink runs on the
    // string "file:/…" and reports a plain file; this one is the link
    for (path <- Seq(new Path(link.toString), new Path(link.toUri))) {
      val st = fs.getFileLinkStatus(path)
      assert(st.isSymlink && st.getPath == path && st.getLen == 2, st)
      assert(st.getSymlink == new Path(target.toUri), st)
    }
    // a relative target is qualified against the link's directory; a
    // dangling link is still a link
    val rel = Files.createSymbolicLink(root.resolve("rel.txt"), java.nio.file.Paths.get("target.txt"))
    assert(fs.getFileLinkStatus(new Path(rel.toUri)).getSymlink == new Path(target.toUri))
    val dangling = Files.createSymbolicLink(root.resolve("dangling.txt"), root.resolve("gone.txt"))
    val st = fs.getFileLinkStatus(new Path(dangling.toUri))
    assert(st.isSymlink && st.getLen == 0 && st.getSymlink == new Path(root.resolve("gone.txt").toUri), st)
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(root.resolve("none").toString)))
  }
}
