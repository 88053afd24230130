package graftbench

/** ops_session output fingerprints ("rows:sum-of-row-hashes"), pinned from
  * the unmodified library on the tables in `perfbench/data`. An operator whose
  * output changes fails its check and counts as a failed operation.
  */
object Pinned {
  val fingerprints: Map[String, String] = Map(
    "bpe_learn" -> "6:8890007880719211358",
    "bpe_apply" -> "500:-1346836314978318822",
    "dedup_clusters" -> "500:7659087180940511734",
    "dedup_verified" -> "25:9068559306358530315",
    "ngram_jaccard" -> "73:3203916472947329144",
    "corpus_sample" -> "344:6895709185680119178",
    "events_funnel" -> "150:-65503709922083695",
    "events_retention" -> "720:-8248335614984452666",
    "vocab_coverage" -> "6:2085904506372262479",
    "ann_ivf_topk" -> "60:-8881491897457946397")
}
