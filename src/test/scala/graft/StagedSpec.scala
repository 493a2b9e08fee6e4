package graft

/** The staged-slot laws (graft.Staged), checked once for the type — every
  * staged shared intermediate of the registry is an instance, so these
  * hold for all of them. */
class StagedSpec extends SparkSpec {

  /** A test slot whose frees are logged; closed (released and taken out of
    * the registry) after `body`, so it never leaks into other suites. */
  private def withSlot[T](name: String, log: collection.mutable.Buffer[String],
      failFree: Boolean = false)(body: Staged[String] => T): T = {
    val st = Staged[String](s"staged_spec_$name", { v =>
      log += s"free:$v"
      if (failFree) throw new IllegalStateException(s"free of $v failed")
    })
    try body(st) finally st.close()
  }

  test("a hit returns the staged value and does not rebuild") {
    val log = collection.mutable.ArrayBuffer[String]()
    withSlot("hit", log) { st =>
      var builds = 0
      def get = st(spark, "d") { builds += 1; s"v$builds" }
      assert(get == "v1" && get == "v1" && builds == 1)
      assert(st.peek(spark, "d").contains("v1"))
      assert(st.peek(spark, "other").isEmpty, "peek must match the key")
      assert(log.isEmpty)
    }
  }

  test("a change of session or dir frees the old value before " +
    "building the new one") {
    val log = collection.mutable.ArrayBuffer[String]()
    withSlot("rekey", log) { st =>
      def build(v: String) = { log += s"build:$v"; v }
      val other = spark.newSession()
      st(spark, "d")(build("a"))
      st(spark, "e")(build("b"))            // dir
      st(other, "e")(build("c"))            // session
      assert(log == Seq("build:a", "free:a", "build:b", "free:b", "build:c"))
      assert(st.peek(spark, "e").isEmpty && st.peek(other, "e").contains("c"))
    }
  }

  test("a throwing build leaves the slot empty and the next call rebuilds") {
    val log = collection.mutable.ArrayBuffer[String]()
    withSlot("throw", log) { st =>
      st(spark, "d")("old")
      val ex = intercept[IllegalArgumentException] {
        st(spark, "e") { require(false, "did not converge"); "never" }
      }
      assert(ex.getMessage.contains("did not converge"))
      // the old value was freed, and nothing points at it any more
      assert(log == Seq("free:old"))
      assert(st.peek(spark, "d").isEmpty && st.peek(spark, "e").isEmpty)
      assert(st(spark, "d")("rebuilt") == "rebuilt")
    }
  }

  test("releaseAll frees every slot and keeps going past a throwing free") {
    val log = collection.mutable.ArrayBuffer[String]()
    withSlot("rel_a", log) { a =>
      withSlot("rel_b", log, failFree = true) { b =>
        withSlot("rel_c", log) { c =>
          a(spark, "d")("a"); b(spark, "d")("b"); c(spark, "d")("c")
          Staged.releaseAll()
          assert(Seq("free:a", "free:b", "free:c").forall(log.contains))
          assert(Seq(a, b, c).forall(_.peek(spark, "d").isEmpty))
        }
      }
    }
  }

  test("nested builds record exclusive time: the parent row excludes the child") {
    val log = collection.mutable.ArrayBuffer[String]()
    withSlot("child", log) { child =>
      withSlot("parent", log) { parent =>
        parent(spark, "d") {
          Thread.sleep(100)
          child(spark, "d") { Thread.sleep(300); "c" }
          "p"
        }
        val t = Staged.stageTimings
        val p = t(parent.name).last
        val c = t(child.name).last
        assert(c >= 0.29, s"child build under-timed: $c")
        assert(p >= 0.09 && p < 0.29, s"parent row includes the child: $p")
        val totals = Staged.buildStageTotals
        assert(totals.contains(parent.name) && totals.contains(child.name))
      }
    }
  }

  test("a duplicate slot name is rejected") {
    val log = collection.mutable.ArrayBuffer[String]()
    withSlot("dup", log) { st =>
      val ex = intercept[IllegalArgumentException] {
        Staged[String](st.name, _ => ())
      }
      assert(ex.getMessage.contains("duplicate"))
    }
  }

  test("the registry holds exactly the 17 build stages of the query modules") {
    SparkEntry.queries // initializes every module that owns a slot
    assert(Staged.names.toSet == Set(
      "window_arrays_build", "window_freq_build", "shingle_arrays_build",
      "shingles_exploded_build", "jaccard_pairs_build",
      "shingle_classes_build", "cluster_labels_build", "bigram_model_build",
      "familiarity_scored_build", "bm25_scores_build", "basket_pairs_build",
      "dense_top20_build", "cooccur_pairs_build", "exact_topk_build",
      "ivf_topk_build", "ahash_blocks_build", "tumbling_drain_build"))
  }

  test("no hand-written staged-table slot (private var ...Cache) under " +
    "src/main/scala/graft") {
    val hits = SourceScan.hits("""private\s+var\s+\w*Cache""".r)
    assert(hits.isEmpty,
      s"use a graft.Staged slot instead of a hand-written cache:\n${hits.mkString("\n")}")
  }
}
