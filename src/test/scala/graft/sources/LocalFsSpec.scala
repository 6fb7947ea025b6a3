package graft.sources

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.{Forks, SparkSuite}
import graft.pipeline.{NplTestKit, Runner}

/** [[LocalFs]] leaves on disk what Hadoop's default local file system
  * leaves: the same permission bits, the same checksum files and commit
  * markers.
  */
class LocalFsSpec extends AnyFunSuite with SparkSuite {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  /** Permission bits, sticky bit included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  test("NIO permissions leave the bits a forked chmod leaves, under the default umask") {
    val nio = raw(new LocalFs.Raw)
    val plain = raw(new RawLocalFileSystem)
    val base = Files.createTempDirectory("graft_localfs")
    for (m <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff)) { // 0600 0644 0700 0755 0777
      val perm = new FsPermission(m.toShort)
      def both(kind: String)(make: (FileSystem, Path) => Unit): Unit = {
        val (a, b) = (base.resolve(s"nio_${kind}_$m"), base.resolve(s"plain_${kind}_$m"))
        val cmds = Forks.during(make(nio, new Path(a.toUri)))
        make(plain, new Path(b.toUri))
        assert(Forks.of(cmds, "chmod").isEmpty, s"$kind $m forked chmod")
        assert(mode(a) == mode(b), f"$kind created with $m%o: ${mode(a)}%o vs ${mode(b)}%o")
        // an explicit setPermission is not masked: exactly the mode asked for
        nio.setPermission(new Path(a.toUri), perm)
        plain.setPermission(new Path(b.toUri), perm)
        assert(mode(a) == m && mode(b) == m, f"$kind set to $m%o: ${mode(a)}%o vs ${mode(b)}%o")
      }
      both("file")((fs, p) => fs.create(p, perm, true, 4096, 1.toShort, 1L << 20, null).close())
      both("dir")((fs, p) => assert(fs.mkdirs(p, perm)))
    }
  }

  test("a sticky-bit mode falls back to Hadoop's own chmod") {
    val nio = raw(new LocalFs.Raw)
    val dir = Files.createTempDirectory("graft_localfs_sticky")
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    assert(sticky.getStickyBit)
    val cmds = Forks.during(nio.setPermission(new Path(dir.toUri), sticky))
    assert(Forks.of(cmds, "chmod").size == 1)
    assert(mode(dir) == 0x3ff)
  }

  /** Every file and directory under `root` (itself as ""), with the part
    * files' job UUID masked, mapped to its permission bits.
    */
  private def tree(root: File): Map[String, Int] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    Files.walk(root.toPath).iterator().asScala.map { p =>
      uuid.replaceAllIn(root.toPath.relativize(p).toString, "<uuid>") -> mode(p)
    }.toMap
  }

  test("Runner.run writes the tree a write without the scope writes") {
    val inputs = NplTestKit.fixtureInputs(fixture)
    val scoped = Runner.run(spark, inputs,
      Files.createTempDirectory("graft_run_scoped").toString)
    val plainBase = Files.createTempDirectory("graft_run_plain").toString
    Runner.buildMarts(spark, inputs).foreach { case (seg, df) =>
      // Sink.writeCsv's write, outside LocalFs.scoped
      val dir = s"$plainBase/$seg"
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
      val (got, want) = (tree(new File(scoped(seg))), tree(new File(dir)))
      assert(got == want, s"$seg")
      assert(Set("_SUCCESS", "._SUCCESS.crc", "part-00000-<uuid>-c000.csv",
        ".part-00000-<uuid>-c000.csv.crc").subsetOf(got.keySet), s"$seg: ${got.keySet}")
    }
    assert(scoped.keySet == Set("housing", "automobile", "credit_card"))
  }
}
