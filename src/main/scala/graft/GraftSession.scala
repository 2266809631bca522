package graft

import org.apache.spark.sql.SparkSession

/** The canonical local session of the driver mains, the specs and the
  * test-scope `Probe` — ONE definition so Verify validates exactly the
  * configuration Bench measures. The bucketing
  * confs are load-bearing for the persisted-index plan shape (see
  * BlockedSelfJoin.pairsPersisted): a conf added to one main but not
  * the other would verify one engine and benchmark another, silently.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the persisted index/signature defaults re-read bucketed tables;
      // these two let the bucket LAYOUT carry the join/agg distribution
      // (exchange-free re-reads)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // whole-stage-codegen class cache, sized to the catalog instead of
      // the 100-entry default: the 194-query catalog compiles thousands
      // of distinct codegen units (literals like table/column names are
      // inlined, so similar queries don't share classes), and at 100
      // entries the cache cycles completely every pass — measured 60
      // fresh Janino compiles PER RUN of one audit query (~0.3-0.5 s of
      // in-task blocking each run, the dominant cost of r13/w27-class
      // queries; OPTIMIZATION_r14.md). Compile cost is per-plan, not
      // per-byte, so this pays at ANY data scale for a long-lived
      // many-query session — exactly this engine's production shape.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
}
