package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cache-key fingerprint contract (no Spark needed — pure file walk). */
class AnnIndexSpec extends AnyFunSuite {

  private def mkSf(root: java.io.File, layout: Seq[(String, Int)]): Unit = {
    val emb = new java.io.File(root, "embeddings.parquet")
    layout.foreach { case (rel, len) =>
      val f = new java.io.File(emb, rel)
      f.getParentFile.mkdirs()
      val out = new java.io.FileOutputStream(f)
      out.write(new Array[Byte](len)); out.close()
      // pin mtime so only path/length can distinguish the layouts
      f.setLastModified(1700000000000L)
    }
  }

  test("key distinguishes same-named part files swapped across partitions") {
    // partitioned datasets repeat part-file NAMES across subdirectories;
    // an mtime-preserving content swap between lang= partitions changes
    // which (relative path, length) pairs exist but not the bare-name
    // multiset — the fingerprint must flip or ensure() serves stale
    // artifacts for changed data
    val tmp = java.nio.file.Files.createTempDirectory("graft_annkey").toFile
    try {
      val a = new java.io.File(tmp, "sf_a"); a.mkdirs()
      val b = new java.io.File(tmp, "sf_b"); b.mkdirs()
      mkSf(a, Seq("lang=en/part-00000.parquet" -> 100, "lang=de/part-00000.parquet" -> 200))
      mkSf(b, Seq("lang=en/part-00000.parquet" -> 200, "lang=de/part-00000.parquet" -> 100))
      val ka = AnnIndex.keyOf(a.getPath)
      val kb = AnnIndex.keyOf(b.getPath)
      // strip the dir-name prefix: only the md5 fingerprint suffix matters
      assert(ka.split("_").last != kb.split("_").last,
        s"swapped-partition layouts fingerprinted identically: $ka vs $kb")
      // and the key is stable for an unchanged layout
      assert(AnnIndex.keyOf(a.getPath) == ka)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }

  test("key folds in the code fingerprint: a changed one rebuilds, an equal one hits") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_annkey_code").toFile
    try {
      val sf = new java.io.File(tmp, "sf"); sf.mkdirs()
      mkSf(sf, Seq("part-00000.parquet" -> 100))
      var builds = 0
      def serve(code: String): String =
        AnnIndex.ensureDir(s"$tmp/cache/${AnnIndex.keyOf(sf.getPath, code = code)}") { st =>
          new java.io.File(st).mkdirs(); builds += 1
        }
      val a = serve("code-a")
      assert(builds == 1)
      assert(serve("code-a") == a && builds == 1, "an equal fingerprint must hit")
      val b = serve("code-b")
      assert(b != a && builds == 2, "a changed fingerprint must miss and rebuild")
      // the default is this JVM's compiled engine: stable, and part of the key
      assert(AnnIndex.codeFingerprint.matches("[0-9a-f]{12}"))
      assert(AnnIndex.keyOf(sf.getPath) == AnnIndex.keyOf(sf.getPath,
        code = AnnIndex.codeFingerprint))
      assert(AnnIndex.keyOf(sf.getPath) != AnnIndex.keyOf(sf.getPath, code = "code-a"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }
}
