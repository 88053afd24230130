package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** Distributed BPE trainer tests: the greedy merge kernel against an
  * independent driver fold (including the lhs = rhs run-parity regime the
  * SQL oracle can't express), the full learning loop against a pure-Scala
  * reference trainer, the gate oracle's validity condition, and the plan
  * shapes the trainer relies on at scale.
  */
class BpeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  // Independent greedy reference: leftmost-first single pass.
  private def refMerge(t: Seq[Long], a: Long, b: Long, nid: Long): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var j = 0
    while (j < t.length) {
      if (t(j) == a && j + 1 < t.length && t(j + 1) == b) { out += nid; j += 2 }
      else { out += t(j); j += 1 }
    }
    out.toSeq
  }

  // Pure-Scala reference trainer over a driver-side corpus.
  private def refLearn(corpus0: Seq[Seq[Long]], k: Int): Seq[Bpe.Merge] = {
    var corpus = corpus0
    val out = scala.collection.mutable.ArrayBuffer.empty[Bpe.Merge]
    for (r <- 0 until k) {
      val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
      corpus.foreach { t =>
        t.sliding(2).foreach {
          case Seq(x, y) => counts((x, y)) = counts.getOrElse((x, y), 0L) + 1
          case _ =>
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        val nid = Bpe.NewIdBase + r
        out += Bpe.Merge(r.toLong, a, b, c, nid)
        corpus = corpus.map(t => refMerge(t, a, b, nid))
      }
    }
    out.toSeq
  }

  private def kernelMerge(t: Seq[Long], a: Long, b: Long, nid: Long): Seq[Long] = {
    graft.functions.GraftFunctions.register(spark)
    Seq(t).toDF("tokens")
      .select(call_function("bpe_merge", $"tokens", lit(a), lit(b), lit(nid)))
      .as[Seq[Long]].head()
  }

  test("bpe_merge kernel: greedy leftmost semantics incl. lhs = rhs runs") {
    // the run-parity regime the SQL oracle cannot express (its validity
    // condition); the kernel must get it right regardless
    assert(kernelMerge(Seq(5, 5, 5), 5, 5, 99) == Seq(99, 5))
    assert(kernelMerge(Seq(5, 5, 5, 5), 5, 5, 99) == Seq(99, 99))
    assert(kernelMerge(Seq(5, 5, 5, 5, 5), 5, 5, 99) == Seq(99, 99, 5))
    // chained non-overlapping matches
    assert(kernelMerge(Seq(1, 2, 1, 2), 1, 2, 99) == Seq(99, 99))
    // an interior equal-pair run
    assert(kernelMerge(Seq(1, 2, 2, 3), 2, 2, 99) == Seq(1, 99, 3))
    // a consumed rhs never starts a new match: [1,2] merges, the produced
    // 99 does not pair with the following 2 under (2,2)
    assert(kernelMerge(Seq(1, 2, 2, 2), 1, 2, 99) == Seq(99, 2, 2))
    // no match → identity
    assert(kernelMerge(Seq(1, 2, 3), 7, 8, 99) == Seq(1, 2, 3))
    // empty and singleton
    assert(kernelMerge(Seq.empty[Long], 1, 2, 99) == Seq.empty[Long])
    assert(kernelMerge(Seq(1L), 1, 2, 99) == Seq(1L))
  }

  test("bpe_merge kernel ≡ driver greedy fold on random small-alphabet arrays") {
    val rnd = new scala.util.Random(42)
    val cases = Seq.tabulate(60) { i =>
      val n = rnd.nextInt(24)
      val t = Seq.fill(n)(rnd.nextInt(3).toLong)
      val a = rnd.nextInt(3).toLong
      val b = rnd.nextInt(3).toLong
      (i.toLong, t, a, b)
    }
    graft.functions.GraftFunctions.register(spark)
    cases.groupBy { case (_, _, a, b) => (a, b) }.foreach { case ((a, b), cs) =>
      val got = cs.map(_._2).toDF("tokens")
        .select(call_function("bpe_merge", $"tokens", lit(a), lit(b), lit(7777L)))
        .as[Seq[Long]].collect().toSeq
      val want = cs.map(c => refMerge(c._2, a, b, 7777L))
      assert(got == want, s"merge ($a,$b)")
    }
  }

  test("learnMerges matches the pure-Scala reference trainer, ranks and counts") {
    // crafted corpus with count ties (resolved by the (count, lhs, rhs)
    // total order) and a run of equal tokens
    val crafted = Seq(
      0L -> Seq(1L, 2, 1, 2, 3, 3, 3, 1, 2),
      1L -> Seq(2L, 1, 2, 1, 2, 3),
      2L -> Seq(3L, 3, 3, 3, 1, 2),
      3L -> Seq(7L, 8, 7, 8, 7, 8))
    // run-heavy corpus that sustains 32 rounds (three barrier rounds) and
    // hits the lhs = rhs run-parity regime (long equal runs)
    val rnd = new scala.util.Random(23)
    val runHeavy = Seq.tabulate(40) { i =>
      val runs = Seq.fill(10 + rnd.nextInt(8)) {
        val sym = rnd.nextInt(5).toLong
        Seq.fill(1 + rnd.nextInt(4))(sym)
      }
      i.toLong -> runs.flatten
    }
    // a corpus that runs out of pairs: learning stops after one merge
    val tiny = Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L))
    for ((corpus, k, rounds) <- Seq((crafted, 5, 5), (runHeavy, 32, 32), (tiny, 5, 1))) {
      val (got, merged) = Bpe.learnMerges(corpus.toDF("doc_id", "tokens"), k)
      val want = refLearn(corpus.map(_._2), k)
      assert(got == want, s"k = $k")
      assert(got.size == rounds, s"k = $k")
      // and the merged corpus matches the reference fold applied in order
      val gotCorpus = merged.as[(Long, Seq[Long])].collect().toMap
      val wantCorpus = corpus.map { case (id, t) =>
        id -> want.foldLeft(t)((acc, m) => refMerge(acc, m.lhs, m.rhs, m.new_id))
      }.toMap
      assert(gotCorpus == wantCorpus, s"k = $k")
    }
    assert(refLearn(runHeavy.map(_._2), 32).exists(m => m.lhs == m.rhs),
      "the equal-pair regime must be exercised — regenerate the corpus if this trips")
  }

  test("learnMerges crosses the checkpoint barrier result-invisibly") {
    // past CheckpointEvery rounds the loop re-bases the corpus on a
    // Materialize.barrier checkpoint (bounding the Θ(k²) kernel-stack
    // recompute); the learned table and the merged corpus must be
    // bit-identical to the pure-Scala reference across that boundary
    val rnd = new scala.util.Random(7)
    val corpus = Seq.tabulate(30)(i =>
      i.toLong -> Seq.fill(30)(rnd.nextInt(4).toLong))
    val df = corpus.toDF("doc_id", "tokens")
    val k = Bpe.CheckpointEvery + 2
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (got, merged) = Bpe.learnMerges(df, k)
    assert(got.size == k) // the data sustained every round; no early stop
    // every superseded checkpoint is freed once its successor lands, the
    // barrier's included: only the blocks the returned corpus reads stay
    // (before the barrier was freed it also stayed, for two in all)
    val kept = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(kept.size <= 1, s"learnMerges kept checkpoint RDDs $kept")
    assert(got == refLearn(corpus.map(_._2), k))
    val gotCorpus = merged.as[(Long, Seq[Long])].collect().toMap
    val wantCorpus = corpus.map { case (id, t) =>
      id -> got.foldLeft(t)((acc, m) => refMerge(acc, m.lhs, m.rhs, m.new_id))
    }.toMap
    assert(gotCorpus == wantCorpus)
  }

  test("applyMerges replays a learned table onto a fresh scan bit-identically") {
    val toks = graft.sources.Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"tokens").limit(50)
    val (merges, merged) = Bpe.learnMerges(toks, 3)
    val replayed = Bpe.applyMerges(toks, merges)
    assert(merged.select("doc_id", "tokens").exceptAll(replayed).isEmpty &&
      replayed.exceptAll(merged.select("doc_id", "tokens")).isEmpty)
  }

  test("gate validity: every learned merge at sf0.001 has lhs != rhs") {
    // the oracle's lag-marking rewrite is only ≡ greedy when lhs != rhs
    // (documented validity condition — re-check if testdata regenerates)
    val toks = graft.sources.Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"tokens")
    val (merges, _) = Bpe.learnMerges(toks, 6)
    assert(merges.size == 6)
    assert(merges.forall(m => m.lhs != m.rhs), merges.toString)
  }

  test("long_checksum ≡ SQL positional fold and token_checksum congruence") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      Seq(3L, 1L << 31, 999999999L, 0L),
      Seq.empty[Long],
      Seq(1000000007L, 1000000006L)).toDF("arr")
    val got = df.select(call_function("long_checksum", $"arr")).as[Long].collect()
    val want = df.selectExpr(
      "pmod(aggregate(transform(arr, (x, i) -> pmod((CAST(i AS BIGINT) + 1) * x, 1000000007)), 0L, (a, b) -> a + b), 1000000007)")
      .as[Long].collect()
    assert(got.toSeq == want.toSeq)
    // congruent with token_checksum on the shared int32 domain
    val ints = Seq(Seq(5, 17, 2147480009 - 1, 0)).toDF("ti")
    val a = ints.select(call_function("token_checksum", $"ti")).as[Long].head()
    // NB: a DDL-string cast ("array<bigint>") lands containsNull = true and
    // the kernel rejects it — the explicit non-null ArrayType is the API
    val b = ints.select(call_function("long_checksum",
        $"ti".cast(ArrayType(LongType, containsNull = false))))
      .as[Long].head()
    assert(a == b)
  }

  test("trainer plan shapes: TakeOrderedAndProject argmax, collapsed merge projection") {
    val toks = graft.sources.Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"tokens")
    // the per-round argmax must never plan as a global sort
    val top = Bpe.pairCounts(toks.select($"doc_id",
        $"tokens".cast(ArrayType(LongType, containsNull = false)).as("tokens")))
      .orderBy($"pair_count".desc, $"lhs".asc, $"rhs".asc).limit(1)
    assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    // stacked merge kernels collapse into one projection over the scan —
    // no exchange, no per-round materialization barrier in the lineage
    val (merges, merged) = Bpe.learnMerges(toks, 3)
    assert(merges.size == 3)
    val planStr = merged.queryExecution.executedPlan.toString
    assert(!planStr.contains("Exchange"), planStr)
    assert(planStr.contains("bpe_merge"))
  }
}
