package graft.operators

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** A lost stale-marker reclaim must leave no tombstone behind, even when
  * the filesystem's rename is not atomic. On `file:`, Hadoop's
  * RawLocalFileSystem falls back to copy + delete when `File.renameTo`
  * fails; if a third process moves the source away between the two, the
  * delete fails and `rename` returns false AFTER the copy has written the
  * destination. This filesystem replays that interleaving
  * deterministically. */
class MarkerReclaimSpec extends AnyFunSuite {

  private class CopyThenLoseSourceFs extends RawLocalFileSystem {
    override def rename(src: Path, dst: Path): Boolean = {
      FileUtil.copy(this, src, this, dst, false, getConf)
      // the third process takes the source before the fallback's delete
      pathToFile(src).renameTo(pathToFile(new Path(src.getParent, "taken")))
      delete(src, false)
    }
  }

  test("a reclaim whose copy-fallback rename fails leaves no tombstone") {
    val root = java.nio.file.Files.createTempDirectory("marker-reclaim").toFile
    val fs = new CopyThenLoseSourceFs
    fs.initialize(URI.create("file:///"), new Configuration())
    val marker = new Path(root.getAbsolutePath, Similarity.MaintenanceMarker)
    val stale = "autocompact:crashed-stale-token"
    val out = fs.create(marker, false)
    out.write(stale.getBytes("UTF-8")); out.close()

    assert(!Similarity.reclaimStaleMarker(fs, marker, stale),
      "a rename that returns false is a lost reclaim")
    val residue = root.list().filter(_.contains("_tomb_"))
    assert(residue.isEmpty, s"tombstone residue: ${residue.mkString(",")}")
    assert(root.list().contains("taken"), "the third process's move stands")
    FileUtil.fullyDelete(root)
  }
}
