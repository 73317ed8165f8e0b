package graft

import graft.functions.DedupOps
import graft.tools.BusDrain
import org.apache.spark.sql.SparkSession

/** Spark jobs run while a MinHash-path frame is CONSTRUCTED (before any
  * action). A `localCheckpoint(false)` is lazy only without AQE: with AQE
  * on, building the checkpoint RDD runs the plan's shuffle stages as jobs,
  * and only the final result stage waits for the first consumer. These
  * counts back the DedupOps comments that cite them. Jobs are counted with
  * [[BusDrain.countJobs]], which excludes its own drain sentinels.
  */
class ConstructionJobsSpec extends SparkSpec {

  private def jobsDuring(s: SparkSession)(f: => Any): Int = BusDrain.countJobs(s)(f)._2

  /** A session with its own conf (AQE as given, the cap when set) whose
    * per-session schema cache is already warm, so schema inference is not
    * counted. */
  private def session(aqe: Boolean, cap: Option[Int] = None): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    cap.foreach(c => s.conf.set("graft.dedup.bucketcap", c.toString))
    DedupOps.minhashCandidatesPlan(s, sfDir)
    s
  }

  test("minhashCandidatesPlan with the bucket cap: 4 construction jobs under AQE, 2 without") {
    // a permissive cap: every bucket kept, the tripwire's jobs still run
    val cap = Some(1000000)
    for ((aqe, want) <- Seq(true -> 4, false -> 2)) {
      val s = session(aqe, cap)
      assert(jobsDuring(s)(DedupOps.minhashCandidatesPlan(s, sfDir)) == want, s"aqe=$aqe")
    }
  }

  test("cap off: the plan builds job-free, its lazy checkpoint is not (2 jobs under AQE, eager 3)") {
    val s = session(aqe = true)
    assert(jobsDuring(s)(DedupOps.minhashCandidatesPlan(s, sfDir)) == 0)
    assert(jobsDuring(s)(DedupOps.minhashCandidatesPlan(s, sfDir).localCheckpoint(false)) == 2)
    assert(jobsDuring(s)(DedupOps.minhashCandidatesPlan(s, sfDir).localCheckpoint(true)) == 3)
    assert(jobsDuring(s)(DedupOps.minhashLsh(s, sfDir)) == 6)
    val off = session(aqe = false)
    assert(jobsDuring(off)(DedupOps.minhashCandidatesPlan(off, sfDir).localCheckpoint(false)) == 0)
    assert(jobsDuring(off)(DedupOps.minhashLsh(off, sfDir)) == 1)
  }
}
