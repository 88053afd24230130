import org.apache.spark.sql.SparkSession

/** Evidence harness behind BASELINE.md §bpe (round 5): the delta-count
  * trainer vs the full-recount trainer on gate data.
  *
  * Run:
  *   sbt -batch "set Compile/unmanagedSources += file(\"tools/evidence/BpeDelta.scala\")"
  *       "runMain BpeDelta"
  * Env: BPE_DIR (default /root/testdata/sf0.1), BPE_K (default 6).
  *
  * Interleaved warm best-of-2 per trainer (this VM's shared cores swing
  * ±30% — same discipline as Bench); asserts the learned tables are
  * identical before printing.
  */
object BpeDelta {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .appName("bpe-delta-evidence")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("BPE_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("BPE_K", "6").toInt
    val toks = graft.sources.Tokens.fromDocuments(spark, dir)
      .select("doc_id", "tokens")
    toks.persist(); toks.count()
    def time(f: => Seq[graft.ops.Bpe.Merge]): (Double, Seq[graft.ops.Bpe.Merge]) = {
      val t0 = System.nanoTime(); val m = f
      ((System.nanoTime() - t0) / 1e9, m)
    }
    // one unrecorded warmup of each, then interleaved recorded reps
    graft.ops.Bpe.learnMerges(toks, math.min(k, 2))
    graft.ops.Bpe.learnMergesDelta(toks, math.min(k, 2))
    var recount = Double.MaxValue; var delta = Double.MaxValue
    var mR: Seq[graft.ops.Bpe.Merge] = Seq.empty
    var mD: Seq[graft.ops.Bpe.Merge] = Seq.empty
    for (_ <- 1 to 2) {
      val (tr, a) = time(graft.ops.Bpe.learnMerges(toks, k)._1)
      val (td, b) = time(graft.ops.Bpe.learnMergesDelta(toks, k)._1)
      recount = math.min(recount, tr); delta = math.min(delta, td)
      mR = a; mD = b
    }
    require(mR == mD, "trainers diverged — this harness exists to catch that loudly")
    println(f"""{"dir":"$dir","k":$k,"recount_best_s":$recount%.2f,"delta_best_s":$delta%.2f,"tables_equal":true}""")
    spark.stop()
  }
}
