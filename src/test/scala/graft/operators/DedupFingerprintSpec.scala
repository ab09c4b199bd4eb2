package graft.operators

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The corpus fingerprint that keys the dedup/ANN/BPE caches must not
  * collide for different listings: a collision serves one corpus's
  * cached results for another. */
class DedupFingerprintSpec extends AnyFunSuite {

  // two one-file listings whose joined strings share a String.hashCode
  private val aa = "Aa:7:1700000000000"
  private val bb = "BB:7:1700000000000"

  test("listingDigest separates listings whose joined strings share a hashCode") {
    assert(aa.hashCode === bb.hashCode, "the pair must collide under hashCode")
    assert(Dedup.listingDigest(Seq(aa)) !== Dedup.listingDigest(Seq(bb)))
    assert(Dedup.listingDigest(Seq(aa)).matches("[0-9a-f]{64}"), "SHA-256 hex")
  }

  test("listingDigest ignores listing order") {
    val files = Seq("part-0:10:1", "part-1:20:2", "part-2:30:3")
    assert(Dedup.listingDigest(files) === Dedup.listingDigest(files.reverse))
  }

  test("fingerprint of two corpora named Aa vs BB (same size, same mtime) differs") {
    def corpus(name: String): String = {
      val dir = Files.createTempDirectory("fp-collide")
      val table: Path = Files.createDirectory(dir.resolve("documents.parquet"))
      val f = Files.write(table.resolve(name), "payload".getBytes("UTF-8"))
      assert(f.toFile.setLastModified(1700000000000L))
      dir.toString
    }
    val (a, b) = (corpus("Aa"), corpus("BB"))
    assert(Dedup.fingerprint(a, "documents") !== Dedup.fingerprint(b, "documents"))
    assert(Dedup.fingerprint(a, "documents") === Dedup.fingerprint(a, "documents"))
  }
}
