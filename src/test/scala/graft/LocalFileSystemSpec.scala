package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem

/** `Sessions.local` binds `file:` to `core.LocalFileSystem`, whose
  * in-process chmod leaves the bits Hadoop's forked `chmod` would. */
class LocalFileSystemSpec extends SparkSpec {

  test("the session's file: filesystem is core.LocalFileSystem") {
    val fs = FileSystem.get(new java.net.URI("file:///"),
      spark.sessionState.newHadoopConf())
    assert(fs.getClass === classOf[graft.core.LocalFileSystem])
  }

  test("a parquet write leaves the permission bits stock LocalFileSystem gives") {
    val root = Files.createTempDirectory("localfs-spec")
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    // relative path (part-file uuids masked) -> permission string
    def write(name: String, impl: Class[_]): Map[String, String] = {
      val dir = root.resolve(name)
      // an uncached filesystem of `impl`, under a umask the process does
      // not apply itself, so only an explicit chmod yields these bits
      spark.range(0, 100, 1, 2).write
        .option("fs.file.impl", impl.getName)
        .option("fs.file.impl.disable.cache", "true")
        .option("fs.permissions.umask-mode", "077")
        .parquet(dir.toString)
      Files.walk(dir).iterator.asScala.filter(_ != dir).map { (p: Path) =>
        dir.relativize(p).toString.replaceAll(uuid, "U") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }
    try {
      val ours = write("ours", classOf[graft.core.LocalFileSystem])
      val stock = write("stock", classOf[org.apache.hadoop.fs.LocalFileSystem])
      val parts = stock.filter(_._1.endsWith(".parquet"))
      assert(parts.size === 2)
      assert(parts.values.toSet === Set("rw-------"))
      assert(ours === stock)
    } finally {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
