package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.streaming.ReactiveStreams

/** Round-8 additions: edge-case hardening flagged by the round-7
  * advisory (empty-document CDC, under-k k-center) plus the new
  * operators' invariants. */
class Round8Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("cdcChunks/cdcChunksGear: empty and sub-window docs yield " +
      "zero chunks instead of throwing") {
    // doc 2 is EMPTY: bounds collapses to [0] and the unguarded
    // sequence(1, 0) used to evaluate descending → element_at(bs, 0)
    // → runtime crash (advisory r7). docs 3/4 are shorter than the
    // window/min-size: one whole-doc chunk.
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog " * 8),
      (2L, "web", ""),
      (3L, "web", "tiny"),
      (4L, "web", "under-min-size")).toDF("doc_id", "source", "text")
    for (chunks <- Seq(Dedup.cdcChunks(docs), Dedup.cdcChunksGear(docs))) {
      val byDoc = chunks.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), sum("clen").as("chars"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(!byDoc.contains(2L))               // empty doc: no chunks
      assert(byDoc(3L) === ((1L, 4L)))          // whole doc, one chunk
      assert(byDoc(4L)._1 === 1L)
      // chunks always reassemble the doc: sum(clen) == length(text)
      assert(byDoc(1L)._2 === 44L * 8)
    }
    // the report rollups must also survive an all-empty source
    val allEmpty = Seq((9L, "s", "")).toDF("doc_id", "source", "text")
    assert(Dedup.cdcChunkReport(allEmpty).count() === 0)
    assert(Dedup.cdcGearReport(allEmpty).count() === 0)
  }

  test("substringSpans: a planted shared paragraph is cut from the " +
      "later doc (the span is removed, never the doc)") {
    // doc 1 (canonical, lower id) and doc 2 share a 10-token
    // paragraph; doc 2 keeps its unique head and tail around the cut
    val para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$para"),
      (2L, s"u1 u2 u3 $para v1 v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")). // untouched: full span
      toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs)
      .orderBy("doc_id", "tok_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 survives whole (canonical occurrence of every window)
    assert(spans.filter(_._1 == 1L).toSeq === Seq((1L, 1L, 10L)))
    // doc 2: para occupies tokens 4..13; all 3 of its windows that
    // fall fully inside the para are duplicates, covering 4..13 —
    // windows straddling the unique head/tail are NOT duplicated, so
    // exactly the planted span is removed and both flanks survive
    assert(spans.filter(_._1 == 2L).toSeq ===
      Seq((2L, 1L, 3L), (2L, 14L, 16L)))
    assert(spans.filter(_._1 == 3L).toSeq === Seq((3L, 1L, 9L)))
    // removal accounting: doc 2 lost exactly the 10 para tokens
    val kept2 = spans.filter(_._1 == 2L).map(s => s._3 - s._2 + 1).sum
    assert(kept2 === 16L - 10L)
  }

  test("minhashAdmitStream == batch minhashProbeIndex rollup across " +
      "a trigger split; frozen index never re-derived") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // frozen corpus: two docs, one with a distinctive long sentence
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different corpus content about spark engines here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("mh_idx").toString
    Dedup.minhashWriteIndex(corpus, dir, auditable = true)
    val postings = spark.read.parquet(dir + "/postings")
    val sets = spark.read.parquet(dir + "/sets")
    // ingest wave: 10 = near-copy of 1 (reject), 11 = fresh (admit),
    // 12 = exact copy of 2 (reject)
    val wave = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again ok"),
      (11L, "entirely novel text that shares no shingles with anything"),
      (12L, "completely different corpus content about spark engines here"))
    val batchWave = wave.map { case (id, tx) => (id, tx) }
      .toDF("doc_id", "text")
    val probe = Dedup.minhashProbeIndex(spark, dir, batchWave,
        auditable = true)
      .groupBy("doc2")
      .agg(count(lit(1)).as("n_dup"),
        max(floor(col("jaccard") * 1e6).cast("long")).as("best"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val mem = MemoryStream[(Long, Timestamp, String)]
    val qn = s"mh_admit_${System.nanoTime()}"
    val q = ReactiveStreams.minhashAdmitStream(
        mem.toDF().toDF("doc_id", "ts", "text"), postings, sets,
        auditable = true)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      mem.addData((10L, t(0), wave(0)._2)); q.processAllAvailable()
      mem.addData((11L, t(1), wave(1)._2), (12L, t(2), wave(2)._2))
      q.processAllAvailable()
      mem.addData((99L, t(59), "x y z w v u t s")) // not yet closing
      mem.addData((98L, Timestamp.valueOf("2024-01-01 09:00:00"), "a b c"))
      q.processAllAvailable()
      val got = spark.table(qn).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      // rejected docs carry the batch probe's exact pair count + best
      for (id <- Seq(10L, 12L); (n, b) = probe(id))
        assert(got(id) === ((n, b, false)), s"doc $id")
      assert(!probe.contains(11L) && got(11L) === ((0L, -1L, true)))
      assert(got(12L)._2 === 1000000L) // exact copy: jaccard = 1
      // the scaladoc's scan contract, pinned: the per-trigger stream
      // side is the broadcast BUILD side, so the static posting /
      // shingle-set tables reach their joins with ZERO exchanges —
      // the index never shuffles, no matter how large the corpus
      val exec = q.asInstanceOf[org.apache.spark.sql.execution
          .streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val planTxt = exec.toString
      assert("BroadcastHashJoin".r.findAllIn(planTxt).nonEmpty,
        s"posting probe must be a broadcast join:\n$planTxt")
      val scanSideExchanges = planTxt.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("bh#"))
      assert(scanSideExchanges === 0,
        s"posting table must never shuffle on bh:\n$planTxt")
    } finally q.stop()
    // the admission decision is what ingest acts on: upsert only
    // admitted docs, preserving the probe-then-upsert contract
  }

  test("bpeTrain multi-merge batching: disjoint top pairs give the " +
      "1-merge result in a fraction of the rounds; drain terminates") {
    // four disjoint-alphabet words with strictly separated counts:
    // every round's top picks share no symbols, so batch = 4 must
    // reproduce the sequential loop exactly
    val docs = Seq.tabulate(100)(i => (i.toLong,
      "aa " * 8 + (if (i < 50) "bb " else "") +
        (if (i < 25) "cc " else "") + (if (i < 12) "dd" else "ee")))
      .toDF("doc_id", "text")
    val seqMerges = TextAnalysis.bpeTrain(docs, rounds = 4, batch = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    val batMerges = TextAnalysis.bpeTrain(docs, rounds = 4, batch = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(batMerges === seqMerges)
    assert(seqMerges.head._2 === "a" && seqMerges.head._3 === "a")
    // a corpus that fully fuses before `rounds` merges exist must
    // DRAIN (return fewer merges), not loop or throw on 1-sym words
    val tiny = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val drained = TextAnalysis.bpeTrain(tiny, rounds = 8, batch = 4)
    assert(drained.count() === 1) // 'a b' fuses, nothing else remains
  }

  test("adamicAdar: bit-length log damping, degree-1 witnesses drop " +
      "with their pairs") {
    // supplier 100 has 4 customers (fl=2, w=500000), supplier 200
    // has 2 (fl=1, w=1000000), supplier 300 has ONE customer —
    // a degree-1 witness must contribute nothing anywhere
    val orders = Seq.tabulate(8)(i => (i.toLong, (i % 4).toLong))
      .toDF("o_orderkey", "o_custkey")
    val li = Seq((0L, 100L), (1L, 100L), (2L, 100L), (3L, 100L),
      (0L, 200L), (1L, 200L), (2L, 300L))
      .toDF("l_orderkey", "l_suppkey")
    val aa = Graph.adamicAdar(li, orders, cap = 64, k = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // pair (0,1): shares supp 100 (w 500000) AND supp 200 (w 1e6)
    assert(aa((0L, 1L)) === ((2L, 1500000L)))
    // pairs through supp 100 only: 500000; supp 300 adds nothing
    assert(aa((0L, 2L)) === ((1L, 500000L)))
    assert(aa((2L, 3L)) === ((1L, 500000L)))
  }

  test("prefAttachment: degree-table top-k == brute-force product " +
      "ranking under an all-tied degree table") {
    // 40 customers, ALL with identical degree (every supplier sells
    // to everyone): every pair product ties, the adversarial case
    // for candidate selection — the k+1-node closure argument must
    // still produce the exact (pa, cust1, cust2) tie-break order
    val orders = Seq.tabulate(40)(i => (i.toLong, i.toLong))
      .toDF("o_orderkey", "o_custkey")
    val li = (for (o <- 0 until 40; s <- Seq(7L, 8L, 9L))
      yield (o.toLong, s)).toDF("l_orderkey", "l_suppkey")
    val got = Graph.prefAttachment(li, orders, cap = 64, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val expect = (for (i <- 0L until 40L; j <- (i + 1) until 40L)
      yield (i, j, 9L)).sortBy(p => (-p._3, p._1, p._2)).take(10)
    assert(got.toSeq === expect)
  }

  test("connectedComponents: driver union-find fast path is " +
      "byte-equal to the distributed path-halving loop") {
    // chains, a star, a cycle, singletons-by-absence — the shapes
    // where min-label propagation order could differ
    val pairs = Seq(
      (5L, 3L), (3L, 9L),                    // chain with min inside
      (20L, 21L), (20L, 22L), (20L, 23L),    // star
      (30L, 31L), (31L, 32L), (32L, 30L),    // cycle
      (41L, 40L)).toDF("doc1", "doc2")
    val nodes = ((0L to 9L) ++ (20L to 23L) ++ (30L to 32L) ++
      (40L to 42L)).map(Tuple1(_)).toDF("doc_id")
    val fast = Dedup.connectedComponents(pairs, nodes)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val loop = DriverCutoff.withBudget(0L)(
        Dedup.connectedComponents(pairs, nodes))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.toSeq === loop.toSeq)
    val m = fast.toMap
    assert(m(9L) === 3L && m(5L) === 3L)     // component min label
    assert(m(23L) === 20L && m(32L) === 30L && m(41L) === 40L)
    assert(m(7L) === 7L && m(42L) === 42L)   // untouched nodes
  }

  test("kcenterSelect: corpus smaller than k returns the partial " +
      "selection; empty corpus returns the empty frame") {
    val tiny = Seq(
      (10L, Array(1f, 0f)),
      (11L, Array(0f, 1f)),
      (12L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.kcenterSelect(tiny, k = 16)
      .orderBy("rank").collect()
    assert(out.length === 3)                    // partial, no throw
    assert(out.map(_.getLong(1)).toSeq === Seq(10L, 12L, 11L))
    // covering radius² sequence is non-increasing after the seed
    val radii = out.drop(1).map(_.getLong(2))
    assert(radii.sorted.reverse.toSeq === radii.toSeq)
    val empty = tiny.filter(col("vec_id") < 0)
    assert(Similarity.kcenterSelect(empty, k = 4).count() === 0)
  }
}
