package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Sessions

/**
 * Shared timing protocol for the adversarial probes ([[ScaleProbe]],
 * [[SkewProbe]]). The probes get their session from [[graft.Sessions]]
 * and clean up between runs with [[graft.Sessions.reap]], exactly as the
 * bench does, so a probe series measures under the bench's protocol:
 * cleanup OUTSIDE the timers, median-of-reps after an untimed warm-up.
 */
private[tools] object ProbeHarness {

  /** Probe list from `envVar` (comma-separated) or `default`, validated
    * against the catalog UP FRONT — a typo'd name must fail before any
    * fixture writes or baseline timings are spent. */
  def probesFrom(envVar: String, default: Seq[String]): Seq[String] = {
    val names = sys.env.get(envVar)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(default)
    val unknown = names.filterNot(graft.queries.Catalog.byName.contains)
    require(unknown.isEmpty,
      s"unknown catalog entries in $$${envVar}: ${unknown.mkString(", ")}")
    names
  }

  /** Untimed warm-up + `reps` timed runs → median; [[Sessions.reap]]
    * runs OUTSIDE the timers. */
  def medianTime(spark: SparkSession, name: String, dir: String, reps: Int): Double = {
    val q = graft.queries.Catalog.byName(name)
    def once(): Double = {
      val t0 = System.nanoTime()
      q.run(spark, dir).count()
      val t = (System.nanoTime() - t0) / 1e9
      Sessions.reap(spark)
      t
    }
    once() // warm-up, untimed
    val ts = (1 to reps).map(_ => once()).sorted
    ts(ts.size / 2)
  }
}
