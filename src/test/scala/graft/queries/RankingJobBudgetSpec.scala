package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Round budgets for ids whose rankings are `row_number` windows planned on
  * the native TopKPerKey operator, at sf0.001. Each id runs in a fresh
  * session, so its first call (staging) builds every substrate it reads and
  * counts the same whatever ran before; the second call is the steady
  * state. `SparkSpec.jobsDuring` counts each call's jobs, and both counts
  * must stay within the id's row of [[budget]] (≤). A change that removes
  * jobs lowers the row in the same change. Counts only, never walls.
  */
class RankingJobBudgetSpec extends SparkSpec {

  /** (id, staging jobs, steady-state jobs, why the row holds these counts).
    * Rows are the counts of the code that first pinned them, 5 runs.
    */
  private val budget: Seq[(String, Int, Int, String)] = Seq(
    ("q40_similarity_topk", 7, 5, "core op: brute-force cosine top-5"),
    ("q95_similarity_topk_native", 7, 5, "core op: q40's function under its own id"),
    ("q199_sq8_rerank", 10, 8, "SQ8 top-32 cut, then the shared exact re-rank"),
    // AQE submits a one-stage, one-task job per query stage it
    // materializes, and for the graph build and q160 that set differs by
    // one job from run to run of the same code (without AQE the counts are
    // fixed). Their rows hold the maximum of five runs: staging q193
    // 35-36, q192 26-27; q160 15-16.
    ("q193_hnsw_recall", 36, 17, "graph build (staging), beam search, re-rank; AQE swing"),
    ("q160_hybrid_fusion", 16, 16, "three ranking cuts; AQE swing"),
    ("q192_hnsw_stats", 27, 8, "graph build (staging); AQE swing"))

  test("ranking round budget: staging and steady-state jobs of the top-k ids") {
    val counts = budget.map { case (id, _, _, _) =>
      val s = spark.newSession()
      try {
        val q = SparkEntry.queries(id)
        val staging = jobsDuring(q(s, sfDir).collect())
        val steady = jobsDuring(q(s, sfDir).collect())
        (id, staging, steady)
      } finally Substrates.evict(s)
    }
    counts.foreach { case (id, st, ss) => info(s"$id: staging ${st.size}, steady ${ss.size}") }
    val over = counts.zip(budget).flatMap { case ((id, staging, steady), (_, maxSt, maxSs, why)) =>
      Seq(("staging", staging, maxSt), ("steady-state", steady, maxSs)).collect {
        case (call, jobs, max) if jobs.size > max =>
          s"$id ($why): $call call ran ${jobs.size} jobs (budget $max)\n  " +
            jobs.mkString("\n  ")
      }
    }
    assert(over.isEmpty, over.mkString("\n"))
  }
}
