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
    val corpus = Seq(
      0L -> Seq(1L, 2, 1, 2, 3, 3, 3, 1, 2),
      1L -> Seq(2L, 1, 2, 1, 2, 3),
      2L -> Seq(3L, 3, 3, 3, 1, 2),
      3L -> Seq(7L, 8, 7, 8, 7, 8))
    val df = corpus.toDF("doc_id", "tokens")
    val (got, merged) = Bpe.learnMerges(df, 5)
    val want = refLearn(corpus.map(_._2), 5)
    assert(got == want)
    // and the merged corpus matches the reference fold applied in order
    val gotCorpus = merged.as[(Long, Seq[Long])].collect().toMap
    val wantCorpus = corpus.map { case (id, t) =>
      id -> want.foldLeft(t)((acc, m) => refMerge(acc, m.lhs, m.rhs, m.new_id))
    }.toMap
    assert(gotCorpus == wantCorpus)
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

  test("bpe_pair_present kernel ≡ adjacency check; exactly the merge kernel's rewrite trigger") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val cases = Seq.tabulate(80) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(20))(rnd.nextInt(3).toLong))
    }
    val df = cases.toDF("doc_id", "tokens")
    for (a <- 0L to 2L; b <- 0L to 2L) {
      val got = df
        .select($"doc_id",
          call_function("bpe_pair_present", $"tokens", lit(a), lit(b)).as("p"),
          call_function("bpe_merge", $"tokens", lit(a), lit(b), lit(9999L)).as("m"),
          $"tokens")
        .as[(Long, Boolean, Seq[Long], Seq[Long])].collect()
      got.foreach { case (id, present, merged, orig) =>
        // independent adjacency reference
        val want = orig.indices.dropRight(1).exists(j => orig(j) == a && orig(j + 1) == b)
        assert(present == want, s"doc $id pair ($a,$b)")
        // soundness coupling for the delta trainer's changed-doc filter:
        // the kernel rewrites a row IFF the predicate holds
        assert(present == (merged != orig), s"doc $id pair ($a,$b): trigger mismatch")
      }
    }
  }

  test("learnMergesDelta ≡ learnMerges at k = 32 (merge table and corpus), incl. lhs = rhs rounds") {
    // corpus engineered to sustain 32 merges and to hit the lhs = rhs
    // run-parity regime (long equal runs) — the delta fold must stay exact
    // through both, because each side of the delta counts REAL kernel
    // output arrays
    val rnd = new scala.util.Random(23)
    val corpus = Seq.tabulate(40) { i =>
      val runs = Seq.fill(10 + rnd.nextInt(8)) {
        val sym = rnd.nextInt(5).toLong
        Seq.fill(1 + rnd.nextInt(4))(sym)
      }
      i.toLong -> runs.flatten
    }
    val df = corpus.toDF("doc_id", "tokens")
    val k = 32
    val (full, fullCorpus) = Bpe.learnMerges(df, k)
    val (delta, deltaCorpus) = Bpe.learnMergesDelta(df, k)
    assert(full.size == k, "corpus must sustain all 32 rounds for the claim to bind")
    assert(delta == full)
    assert(full.exists(m => m.lhs == m.rhs),
      "the equal-pair regime must be exercised — regenerate the corpus if this trips")
    val a = fullCorpus.as[(Long, Seq[Long])].collect().toMap
    val b = deltaCorpus.as[(Long, Seq[Long])].collect().toMap
    assert(a == b)
  }

  test("learnMergesDelta matches the reference trainer on the gate source and early-stops exactly") {
    val toks = graft.sources.Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"tokens").limit(60)
    val (full, _) = Bpe.learnMerges(toks, 6)
    val (delta, _) = Bpe.learnMergesDelta(toks, 6)
    assert(delta == full)
    // exhaustion parity: a tiny corpus that runs out of pairs stops both
    // trainers at the same round with the same table
    val tiny = Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L)).toDF("doc_id", "tokens")
    val (f2, _) = Bpe.learnMerges(tiny, 5)
    val (d2, _) = Bpe.learnMergesDelta(tiny, 5)
    assert(d2 == f2 && d2.size == 1)
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
