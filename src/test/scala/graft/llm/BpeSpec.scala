package graft.llm

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train learns hand-computable merges in count-then-lexicographic order") {
    // words: ab x3, ac x1
    val docs = Seq("ab ab ab", "ac").toDF("text")
    val merges = Bpe.train(spark, docs, "text", numMerges = 5, minCount = 1)
      .as[(Long, String, String, Long)].collect().toSeq
    // pairs round 1: (a,b)=3, (b,</w>)=3, (a,c)=1, (c,</w>)=1
    //   tie at 3 -> lexicographic (a,b) < (b,</w>)
    // round 2: (ab,</w>)=3 wins
    // round 3: (a,c)=1 vs (c,</w>)=1 -> (a,c)
    // round 4: (ac,</w>)=1
    // round 5: nothing left to merge -> early stop
    assert(merges === Seq(
      (0L, "a", "b", 3L),
      (1L, "ab", Bpe.EndOfWord, 3L),
      (2L, "a", "c", 1L),
      (3L, "ac", Bpe.EndOfWord, 1L)))
  }

  test("minCount gates rare pairs; repeated chars merge greedily left-to-right") {
    // "aaa": pairs (a,a) weight 2 per word occurrence... greedy fold gives
    // ["aa","a"] after merging (a,a) once per adjacent non-overlapping site
    val docs = Seq("aaa aaa", "b").toDF("text")
    val merges = Bpe.train(spark, docs, "text", numMerges = 1, minCount = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    // (a,a) appears twice per "aaa" (overlapping counted per adjacency) x2 words = 4
    assert(merges.head === ((0L, "a", "a", 4L)))
    // and with minCount above every pair weight, nothing is learned
    assert(Bpe.train(spark, docs, "text", numMerges = 3, minCount = 100).count() === 0)
  }

  test("segment applies ranks lowest-first and matches the training segmentation") {
    val docs = Seq("ab ab ab", "ac").toDF("text")
    val merges = Bpe.train(spark, docs, "text", numMerges = 2, minCount = 1)
    val out = Bpe.segment(spark,
      Seq((1L, "ab"), (2L, "ac"), (3L, "abab"), (4L, "")).toDF("doc_id", "text"),
      "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out(1L) === List("ab" + Bpe.EndOfWord))          // both merges apply
    assert(out(2L) === List("a", "c", Bpe.EndOfWord))       // (a,c) was not learned
    // "abab": (a,b) rank 0 merges both sites; (ab,</w>) then merges the tail
    assert(out(3L) === List("ab", "ab" + Bpe.EndOfWord))
    assert(out(4L) === Nil)                                  // empty text -> no tokens
  }

  test("astral-plane characters stay whole symbols in train AND segment") {
    // U+1F642 is a surrogate pair in UTF-16; train splits by code point,
    // so segment must too — code-unit iteration would produce lone
    // surrogate halves that never match any learned merge
    val emoji = new String(Character.toChars(0x1F642))
    val docs = Seq(s"${emoji}x ${emoji}x").toDF("text")
    val merges = Bpe.train(spark, docs, "text", numMerges = 2, minCount = 1)
    assert(merges.count() === 2)
    val toks = Bpe.segment(spark, Seq((1L, s"${emoji}x")).toDF("doc_id", "text"),
      "doc_id", "text", merges)
      .collect().head.getSeq[String](1).toList
    // two merges over a 3-symbol word collapse it entirely
    assert(toks === List(s"${emoji}x" + Bpe.EndOfWord))
  }

  test("training is partitioning-independent and batch-size-independent") {
    val docs = Tables2.sentences.toDF("text")
    val a = Bpe.train(spark, docs.repartition(7), "text", numMerges = 12,
      minCount = 2, maxBatch = 3)
      .as[(Long, String, String, Long)].collect().toSeq
    val b = Bpe.train(spark, docs.coalesce(1), "text", numMerges = 12,
      minCount = 2, maxBatch = 100)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(a === b && a.size === 12)
  }

  test("batched rounds match the one-merge-at-a-time sequence exactly") {
    // maxBatch = 1 degenerates to the pure sequential loop (one argmax
    // action per merge); the batched path must learn the identical
    // sequence on natural chain-heavy text — the provable-prefix rule only
    // groups merges whose independence is certain
    val docs = Tables2.sentences.toDF("text")
    val sequential = Bpe.train(spark, docs, "text", numMerges = 16, minCount = 2, maxBatch = 1)
      .as[(Long, String, String, Long)].collect().toSeq
    val batched = Bpe.train(spark, docs, "text", numMerges = 16, minCount = 2, maxBatch = 8)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(batched === sequential && batched.size === 16)
  }

  test("independent merges batch into one round: >=4x fewer driver actions") {
    // 16 frequency-separated pair families with globally distinct symbols:
    // family i is 'c_i d_i' surrounded by 20 different rare contexts, so
    // (c_i, d_i) counts ~1000*0.9^i while every adjacent pair stays under
    // 1000/20 — all 16 candidates are provably independent and the batch
    // rule must take them in ONE round. Natural text batches less (BPE
    // merge chains are real dependencies); this pins the mechanism.
    val words = (0 until 16).flatMap { i =>
      val c = new String(Character.toChars(0x3B1 + 2 * i))      // α, γ, ε, ...
      val d = new String(Character.toChars(0x3B2 + 2 * i))      // β, δ, ζ, ...
      val n = (1000 * math.pow(0.9, i)).toInt
      (0 until 20).flatMap { j =>
        val f = new String(Character.toChars(0x4E00 + i * 40 + 2 * j))
        val g = new String(Character.toChars(0x4E01 + i * 40 + 2 * j))
        Seq.fill(n / 20)(s"$f$c$d$g")
      }
    }
    val docs = words.grouped(200).map(_.mkString(" ")).toSeq.toDF("text")
    def countJobs(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; Thread.sleep(500) } // let queued listener events drain
      finally spark.sparkContext.removeSparkListener(listener)
      counter.get()
    }
    var sequentialMerges: Seq[(Long, String, String, Long)] = null
    var batchedMerges: Seq[(Long, String, String, Long)] = null
    val sequential = countJobs {
      sequentialMerges = Bpe.train(spark, docs, "text", numMerges = 16, minCount = 2, maxBatch = 1)
        .as[(Long, String, String, Long)].collect().toSeq
    }
    val batched = countJobs {
      batchedMerges = Bpe.train(spark, docs, "text", numMerges = 16, minCount = 2, maxBatch = 16)
        .as[(Long, String, String, Long)].collect().toSeq
    }
    assert(batchedMerges === sequentialMerges && batchedMerges.size === 16)
    assert(batched * 4 <= sequential,
      s"expected >=4x fewer jobs, got sequential=$sequential batched=$batched")
  }

  private object Tables2 {
    val sentences: Seq[String] = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the lazy dog sleeps while the quick fox runs",
      "quick thinking wins the day says the brown dog",
      "over and over the fox outfoxes the hounds")
  }
}
