package graft

import org.scalatest.funsuite.AnyFunSuite

/** Artifact-cache contract: key fingerprint, commit, prune and the
  * declared build steps (no Spark needed — pure file walks). */
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
      // the data part differs (its dir-name prefix is equal by construction)
      assert(ka.data.split("_").last != kb.data.split("_").last,
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
        AnnIndex.ensureDir(s"$tmp/cache", AnnIndex.keyOf(sf.getPath, code = code), "") { st =>
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

  test("a commit prunes other code's entries to the most recently served; an unmarked entry fails loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_annkey_prune").toFile
    try {
      val sf = new java.io.File(tmp, "sf"); sf.mkdirs()
      mkSf(sf, Seq("part-00000.parquet" -> 100))
      val root = s"$tmp/cache"
      def serve(code: String, suffix: String = "_fam"): String =
        AnnIndex.ensureDir(root, AnnIndex.keyOf(sf.getPath, code = code), suffix)(
          st => new java.io.File(st).mkdirs())
      def marker(entry: String) = new java.io.File(entry, "_GRAFT_READY")
      def gen(i: Int) = f"c0de0000000$i%d"
      val e1 = serve(gen(1))
      val e2 = serve(gen(2))
      // another family over the same data is a different entry set
      val other = serve(gen(1), "_other")
      // the serve clock: generation 2 was served after generation 1
      marker(e1).setLastModified(1700000000000L)
      marker(e2).setLastModified(1700000001000L)
      val e3 = serve(gen(3))
      assert(!new java.io.File(e1).exists(),
        "the least recently served other-code entry must be pruned")
      assert(new java.io.File(e2).isDirectory && new java.io.File(e3).isDirectory,
        "three code generations must leave two")
      assert(new java.io.File(other).isDirectory, "prune crossed families")
      // a directory without its marker fails loudly and is never pruned
      val k4 = AnnIndex.keyOf(sf.getPath, code = gen(4))
      val bare = new java.io.File(s"$root/${k4.data}_${k4.code}_fam")
      new java.io.File(bare, "part-00000").mkdirs()
      val err = intercept[IllegalStateException](serve(gen(4)))
      assert(err.getMessage.contains("_GRAFT_READY"), err.getMessage)
      // an entry an earlier JVM committed: this JVM's first serve touches
      // its marker, and the commit of generation 6 then keeps it
      val k5 = AnnIndex.keyOf(sf.getPath, code = gen(5))
      val e5 = s"$root/${k5.data}_${k5.code}_fam"
      new java.io.File(e5).mkdirs(); marker(e5).createNewFile()
      marker(e5).setLastModified(1600000000000L)
      assert(serve(gen(5)) == e5 && marker(e5).lastModified() > 1700000001000L)
      marker(e3).setLastModified(1700000002000L)
      val e6 = serve(gen(6))
      assert(Seq(e5, e6).forall(new java.io.File(_).isDirectory))
      assert(Seq(e2, e3).forall(e => !new java.io.File(e).exists()))
      assert(bare.isDirectory)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }

  test("build steps: SparkEntry.builds is the eight families, each under its pinned cache suffix") {
    val pinned = Map(
      "sim_index_build" -> ("embeddings", ""),
      "mrl_index_build" -> ("embeddings", "_mrl"),
      "sem_registry_build" -> ("embeddings", "_semreg"),
      "substr_registry_build" -> ("documents", "_substrreg"),
      "logreg_model_build" -> ("documents", "_logreg"),
      "lm_ref_model_build" -> ("documents", "_lmref"),
      "dsir_model_build" -> ("documents", "_dsir"),
      "nb_model_build" -> ("documents", "_nb"))
    assert(SparkEntry.builds.keySet == pinned.keySet)
    assert(AnnIndex.families.size == pinned.size, "a step is declared twice")
    assert(AnnIndex.families.map(f => f.step -> ((f.table, f.suffix))).toMap == pinned)
  }
}
