package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOf, Dedup, DriverCutoff, Reactive, Signals, Similarity,
  TextAnalysis}

/** Regression tests for the round-3 advisory fixes. */
class Round3Spec extends AnyFunSuite {
  import TestSession._

  test("rxBufferCountSkip with skip > n drops gap elements (no descending explode)") {
    import spark.implicits._
    // positions 0..9 per user; n=2, skip=5 → batches cover positions
    // {0,1} and {5,6}; positions 2,3,4,7,8,9 fall in gaps
    val events = (1L to 10L).map(i => (i, 1L, "click", i.toDouble))
      .toDF("event_id", "user_id", "event_type", "value")
    val out = Reactive.rxBufferCountSkip(events, n = 2, skip = 5)
      .select("batch_id", "batch_n", "first_event_id", "last_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out === Set((0L, 2L, 1L, 2L), (1L, 2L, 6L, 7L)))
  }

  test("rxBufferCountSkip overlapping (skip < n) still covers every element") {
    import spark.implicits._
    val events = (1L to 6L).map(i => (i, 1L, "click", i.toDouble))
      .toDF("event_id", "user_id", "event_type", "value")
    // n=4, skip=2: batch0={1..4} batch1={3..6} batch2={5,6}
    val out = Reactive.rxBufferCountSkip(events, n = 4, skip = 2)
      .select("batch_id", "batch_n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((0L, 4L), (1L, 4L), (2L, 2L)))
  }

  test("rxRepeat rejects n = 0 instead of exploding a descending range") {
    import spark.implicits._
    val events = Seq((1L, 1L, "click", 1.0))
      .toDF("event_id", "user_id", "event_type", "value")
    intercept[IllegalArgumentException] { Reactive.rxRepeat(events, n = 0) }
  }

  test("as-of join carries the whole payload from ONE right row even with nulls") {
    import spark.implicits._
    val left = Seq((10L, 1L, "p1")).toDF("seq", "key", "l_tag")
    // latest right row (seq=9) has a NULL in payload column `a`; the
    // older row (seq=5) has both — a per-column fill would mix them
    val right = Seq((5L, 1L, Some(111.0), Some("old")),
      (9L, 1L, None: Option[Double], Some("new")))
      .toDF("seq", "key", "a", "b")
    val r = AsOf.join(left, right, "key", "seq", Seq("a", "b")).collect()(0)
    assert(Option(r.getAs[Any]("asof_a")).isEmpty,
      "asof_a must be NULL (from the latest row), not backfilled from an older row")
    assert(r.getAs[String]("asof_b") === "new")
  }

  test("connectedComponents throws on non-convergence instead of partial labels") {
    import spark.implicits._
    // a chain 0-1-2-...-9 has diameter 9; maxIter=2 cannot converge
    val pairs = (0L until 9L).map(i => (i, i + 1))
      .toDF("doc1", "doc2")
    val nodes = (0L to 9L).map(Tuple1(_)).toDF("doc_id")
    // a zero driver budget forces the distributed loop (the r8
    // adaptive union-find would solve a 10-node chain driver-side)
    intercept[IllegalStateException] {
      DriverCutoff.withBudget(0L)(
        Dedup.connectedComponents(pairs, nodes, maxIter = 2)).collect()
    }
    // and with enough rounds the same chain collapses to one cluster
    val ok = DriverCutoff.withBudget(0L)(
        Dedup.connectedComponents(pairs, nodes, maxIter = 12))
      .select("cluster_id").distinct().collect()
    assert(ok.map(_.getLong(0)).toSet === Set(0L))
  }

  test("signal sharing a lambda parameter name gains no spurious edge") {
    import spark.implicits._
    val df = Seq((Array(1, -2, 3), 10)).toDF("arr", "base")
    // signal `x` exists; the lambda parameter `x` in `pos` must NOT
    // create an edge pos -> x (which would be a false cycle if x
    // referenced pos's inputs)
    val defs = Map(
      "x" -> "base * 2",
      "pos" -> "size(filter(arr, x -> x > 0)) + base")
    val out = Signals.derive(df, defs).select("x", "pos").collect()(0)
    assert(out.getInt(0) === 20)
    assert(out.getInt(1) === 12)
    // the order must not force x before pos (no dependency)
    assert(Signals.order(defs).toSet === Set("x", "pos"))
  }

  test("q10 sorts the double representation (oracle tie-break parity)") {
    val out = graft.operators.Relational.q10ReturnedItems(spark, sf)
    assert(out.schema("revenue").dataType ===
      org.apache.spark.sql.types.DoubleType)
  }

  test("bufferToggle collects opening + following elements until the close") {
    import spark.implicits._
    val events = Seq(
      (1L, 1L, "click", 1.0), (2L, 1L, "signup", 0.0), (3L, 1L, "click", 2.0),
      (4L, 1L, "error", 0.0), (5L, 1L, "click", 3.0), (6L, 1L, "signup", 0.0),
      (7L, 1L, "view", 4.0))
      .toDF("event_id", "user_id", "event_type", "value")
    val out = Reactive.rxBufferToggle(events)
      .select("open_id", "buf_n", "last_event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // buffer opened at 2 holds {2,3} (closed by 4); event 5 is outside
    // any buffer; buffer opened at 6 holds {6,7} (stream end)
    assert(out === Set((2L, 2L, 3L), (6L, 2L, 7L)))
  }

  test("docChunks covers every token with the stride overlap") {
    import spark.implicits._
    val text = (1 to 95).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = TextAnalysis.docChunks(docs, size = 50, stride = 40)
      .orderBy("chunk_id").collect()
    assert(chunks.length === 3) // starts 0, 40, 80
    assert(chunks.map(_.getAs[Long]("chunk_tokens")).toSeq === Seq(50L, 50L, 15L))
    val last = chunks(2).getAs[String]("chunk_text")
    assert(last.startsWith("w81 ") && last.endsWith(" w95"))
  }

  test("contaminationCheck flags shared shingles, never the benchmark docs themselves") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),          // benchmark (0 % 97 == 0)
      (1L, "alpha beta gamma other words"),    // shares "alpha beta gamma"
      (2L, "completely different tokens here") // clean
    ).toDF("doc_id", "text")
    val out = TextAnalysis.contaminationCheck(docs, col("doc_id") % 97 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L) === 1L)
  }

  test("piiScrub redacts email, url and phone and counts them") {
    import spark.implicits._
    val docs = Seq((1L, "mail me at bob@x.org or +1-555-123456 see https://a.b/c end"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(docs).collect()(0)
    assert(r.getAs[String]("clean_text") ===
      "mail me at <EMAIL> or <PHONE> see <URL> end")
    assert(r.getAs[Long]("n_redactions") === 3L)
  }

  test("labelCentroids matches a driver-side exact computation") {
    import spark.implicits._
    val embs = Seq((1L, Array(0.5f, -0.25f), 0), (2L, Array(1.5f, 0.75f), 0),
      (3L, Array(2.0f, 2.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(embs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((0L, 0L)) === ((2L, 2000000L, 1.0)))
    assert(out((0L, 1L)) === ((2L, 500000L, 0.25)))
    assert(out((1L, 0L)) === ((1L, 2000000L, 2.0)))
  }

  test("sketch stats stay within the advertised error of the exact twins") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val approx = graft.operators.Sketches.approxStats(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val exact = graft.operators.Sketches.exactStats(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    exact.foreach { case (t, (eu, ev2)) =>
      val (au, av) = approx(t)
      assert(math.abs(au - eu).toDouble / eu <= 0.05,
        s"$t approx_users $au vs exact $eu")
      assert(math.abs(av - ev2).toDouble / ev2 <= 0.05,
        s"$t approx_values $av vs exact $ev2")
    }
  }

  test("k-means-refined IVF keeps recall and stays deterministic") {
    import graft.sources.Tables
    val embs = Tables.embeddings(spark, sf)
    val qs = embs.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(embs, qs, 5))
    val refined = pairs(Similarity.ivfTopKRefined(embs, qs,
      nlist = 16, nprobe = 4, k = 5, iters = 2))
    assert(refined.nonEmpty)
    val recall = bf.intersect(refined).size.toDouble / bf.size
    assert(recall >= 0.3, s"refined-IVF recall $recall below floor")
    // the index build is bit-stable: two builds agree exactly
    val c1 = Similarity.kmeansCentroids(embs, 16, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val c2 = Similarity.kmeansCentroids(embs, 16, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(c1 === c2)
  }

  test("TopK rewrite replaces rank<=k window plans and preserves results") {
    import spark.implicits._
    import graft.plans.{TopKPerGroup, TopKPerGroupExec}
    val df = (1 to 200).map(i => (i.toLong, i % 7L, (i * 37 % 101).toDouble))
      .toDF("id", "grp", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("score").desc, col("id"))
    val q = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("score") > 1.0)
      .drop("rn")
    assert(q.queryExecution.optimizedPlan.collect {
      case t: TopKPerGroup => t }.nonEmpty,
      "optimizer must rewrite the rank<=k pattern to TopKPerGroup")
    // AQE wraps the physical tree; assert on its rendered form
    assert(q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0).contains("TopKPerGroup"))
    // results identical to the un-rewritten window form
    val keepRn = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("score") > 1.0)
    assert(keepRn.queryExecution.optimizedPlan.collect {
      case t: TopKPerGroup => t }.isEmpty,
      "a query that keeps the rank column must NOT be rewritten")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = keepRn.drop("rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("TopK rewrite leaves rank-range (pagination) plans alone") {
    import spark.implicits._
    import graft.plans.TopKPerGroup
    val df = (1 to 50).map(i => (i.toLong, i % 3L)).toDF("id", "grp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("id")
    val q = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("rn") >= 2)
      .drop("rn")
    assert(q.queryExecution.optimizedPlan.collect {
      case t: TopKPerGroup => t }.isEmpty)
    assert(q.count() === 12) // ranks 2..5 per group: 4+4+4
  }

  test("skipUntil/takeUntil partition the non-trigger stream") {
    import spark.implicits._
    val events = Seq(
      (1L, 1L, "click", 1.0), (2L, 1L, "error", 0.0), (3L, 1L, "view", 2.0),
      (4L, 2L, "view", 3.0))
      .toDF("event_id", "user_id", "event_type", "value")
    val take = Reactive.rxTakeUntil(events).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val skip = Reactive.rxSkipUntil(events).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(take === Set(1L, 4L))
    assert(skip === Set(3L))
  }

  test("bloomPrunedJoin matches the plain join and actually prunes the fact") {
    import spark.implicits._
    import graft.operators.RuntimeFilter
    val fact = (1L to 1000L).map(i => (i, i % 100)).toDF("fk", "payload")
    val dim = Seq(3L, 7L, 42L).toDF("dk")
    val pruned = RuntimeFilter.bloomPrunedJoin(fact, dim, "fk", "dk",
      expectedItems = 100L)
    val plain = fact.join(dim, col("fk") === col("dk"))
    assert(pruned.collect().toSet === plain.collect().toSet)
    // the bloom pre-filter keeps far fewer than the 1000 fact rows
    // (3 true keys + fpp stragglers), so the shuffle input shrank
    val bf = dim.stat.bloomFilter("dk", 100L, 0.01)
    val kept = fact.collect().map(_.getLong(0))
      .count(bf.mightContainLong)
    assert(kept < 50, s"bloom kept $kept of 1000")
  }

  test("upsert tags update/insert/keep and never mixes rows") {
    import spark.implicits._
    import graft.operators.MergeOps
    val base = Seq((1L, 10.0, "a"), (2L, 20.0, "b"))
      .toDF("k", "v", "meta")
    val updates = Seq((2L, Some(99.0)), (3L, Some(30.0)), (1L, None: Option[Double]))
      .toDF("k", "v")
    val out = MergeOps.upsert(base, updates, "k")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.getString(2)), r.getString(3))).toSet
    assert(out === Set(
      (1L, Some(10.0), Some("a"), "update"),  // null update value -> base value survives
      (2L, Some(99.0), Some("b"), "update"),
      (3L, Some(30.0), None, "insert")))
  }

  test("shuffleShard deals balanced shards with contiguous positions") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (1L to 103L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val out = Sampling.shuffleShard(docs, nshards = 8).cache()
    val sizes = out.groupBy("shard").count()
      .collect().map(_.getLong(1))
    assert(sizes.length === 8 && sizes.max - sizes.min <= 1)
    // positions are 0..size-1 within every shard
    val bad = out.groupBy("shard")
      .agg(max("pos_in_shard").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n") - 1).count()
    assert(bad === 0)
    out.unpersist()
  }

  test("splitAssign is stable under corpus growth (pure function of the id)") {
    import spark.implicits._
    import graft.operators.Sampling
    val all = (1L to 400L).map(i => (i, "s", 10L))
      .toDF("doc_id", "source", "n_chars")
    val subset = all.filter(col("doc_id") <= 100)
    val fromAll = Sampling.splitAssign(all)
      .filter(col("doc_id") <= 100)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val fromSubset = Sampling.splitAssign(subset)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(fromAll === fromSubset)
    assert(fromAll.values.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("snapshotDiff classifies added/removed/changed/same") {
    import spark.implicits._
    import graft.operators.MergeOps
    val oldS = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "t")
    val newS = Seq((2L, "b"), (3L, "C2"), (4L, "d")).toDF("k", "t")
    val got = MergeOps.snapshotDiff(oldS, newS, "k", Seq("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 2L -> "same",
      3L -> "changed", 4L -> "added"))
  }

  test("rxResampleInterp linearly interpolates between bracketing events") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "m", 10.0),
      (2L, "2024-01-03 00:00:00", 1L, "m", 30.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val got = Reactive.rxResampleInterp(events)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val day = 86400000L
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    assert(got(t0) === 10.0)          // on-grid event: fraction 0
    assert(got(t0 + day) === 20.0)    // halfway between 10 and 30
    assert(got(t0 + 2 * day) === 30.0)
  }

  test("qEquiDepth buckets are balanced on uniform data") {
    import spark.implicits._
    // mirror the operator on synthetic uniform values 1..100: each
    // decile must hold exactly 10, lo/hi must tile the range
    val vals = (1 to 100).map(_.toDouble).toDF("o_totalprice")
    val edges = vals.agg(percentile(col("o_totalprice"),
      lit((1 to 9).map(_ / 10.0).toArray)).as("edges"))
    val out = vals.crossJoin(broadcast(edges))
      .select((size(filter(col("edges"), e => e < col("o_totalprice"))) + 1)
        .as("bucket"), col("o_totalprice"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out.keySet === (1 to 10).toSet)
    assert(out.values.forall(_ === 10L))
  }

  test("quantizeAudit error stays within half a quantization step") {
    import graft.operators.Similarity
    val embs = graft.sources.Tables.embeddings(spark, sf)
    val bad = Similarity.quantizeAudit(embs)
      .filter(col("max_err_scaled") >
        floor(col("scale") / 2 * 1e9) + 1)
      .count()
    assert(bad === 0)
  }

  test("chunkDedup finds cross-document boilerplate, ignores within-doc repeats") {
    import spark.implicits._
    val boiler = (1 to 50).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, boiler + " unique one"),
      (2L, boiler + " other tail"),
      (3L, ((1 to 50).map(i => s"x$i") ++ (1 to 50).map(i => s"x$i"))
        .mkString(" ")))  // same chunk twice WITHIN one doc
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDedup(docs)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // only the cross-doc boilerplate chunk surfaces (docs 1 and 2);
    // doc 3's internal repeat is a single distinct (doc, hash) pair
    assert(out.toSeq === Seq((2L, 1L, 2L)))
  }

  test("connectedComponents: deep chain converges in log rounds (pointer jump)") {
    import spark.implicits._
    val chain = (1L to 29L).map(i => (i, i + 1, 1.0))
      .toDF("doc1", "doc2", "jaccard")
    val nodes = (1L to 30L).map(Tuple1(_)).toDF("doc_id")
    // plain propagation moves the minimum one hop per round, so a
    // depth-29 chain would need 30 rounds; path halving doubles the
    // travel per round — 10 rounds MUST now suffice (this asserted a
    // throw at 10 before the jump step existed). A zero driver budget
    // forces the loop under test (r8 added the small-set fast path).
    val labels = DriverCutoff.withBudget(0L)(
        Dedup.connectedComponents(chain, nodes, maxIter = 10))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 30L).forall(labels(_) == 1L))
    // and the non-convergence contract still holds when the budget
    // genuinely can't cover the doubling distance
    intercept[IllegalStateException] {
      DriverCutoff.withBudget(0L)(
        Dedup.connectedComponents(chain, nodes, maxIter = 2)).collect()
    }
  }

  test("decodeStub histogram mass equals payload length for every bin width") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(42)
    val payload = Array.fill(997)(rnd.nextInt(256).toByte)
    for (bins <- Seq(8, 64, 256)) {
      val (sum1, h1) = Multimodal.decodeStub(payload, bins)
      val (sum2, h2) = Multimodal.decodeStub(payload, bins)
      assert(h1.sum === payload.length.toLong)
      assert(sum1 === sum2 && h1.toSeq === h2.toSeq) // deterministic
    }
    // full-resolution bins count exact byte values
    val (_, h256) = Multimodal.decodeStub(payload, 256)
    assert(h256(payload.head & 0xFF) >= 1)
    intercept[IllegalArgumentException] { Multimodal.decodeStub(payload, 7) }
  }

  test("rxPartition is an exhaustive disjoint split") {
    val events = graft.sources.Tables.events(spark, sf)
    val out = Reactive.rxPartition(events).cache()
    val n = events.count()
    assert(out.count() === n)
    val pass = out.filter(col("part") === "pass").count()
    val fail = out.filter(col("part") === "fail").count()
    assert(pass + fail === n && pass > 0 && fail > 0)
    assert(pass === events.filter(col("value") >= 100.0).count())
    out.unpersist()
  }
}
