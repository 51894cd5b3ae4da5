package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** One place to build/enable graft on a SparkSession.
  *
  * Preferred production path is the extensions mechanism
  * (`spark.sql.extensions=graft.GraftSparkExtensions`); `enable(spark)`
  * covers sessions that already exist (tests, Verify, Bench, driver).
  */
object GraftSession {

  /** Confs every graft session needs. `cpus` sizes shuffle parallelism to
    * the local machine; on a real cluster this is cluster-managed.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate clones the generator child into a
      // same-stage filter (`size(e)>0 AND isnotnull(e)`): for graft's
      // expensive array producers (word_shingles, minhash signatures,
      // line chunkers) that evaluates the array expression up to 3x per
      // row — and since the filter sits in the SAME stage as the
      // Generate, it prunes no I/O and no shuffle bytes at any scale.
      // Non-trivial generator children are the norm in this engine, so
      // the rule is excluded session-wide (scale-independent win; an
      // empty/null array is dropped by the non-outer Generate anyway).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // AQE coalescing targets BYTES (1 MiB floor per partition). The
      // 1 MiB default floor is KEPT: a global 64 KiB floor was measured
      // as a net regression (tx_split 3.3→6.1 s — task-scheduling
      // overhead on tiny partitions; OPTIMIZATION_r15 §1), so CPU-heavy
      // stages over compact keys are instead fanned out surgically
      // (the qProfile guard / graft.queries.fanOut). Env-overridable
      // for cluster profiles where bytes genuinely track CPU.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"))
      // Constraint propagation substitutes inferred predicates THROUGH
      // aliases: a join filter on __na = size(word_shingles(...)) comes
      // back as a scan-side `isnotnull(size(word_shingles(split(...))))`
      // filter that re-evaluates the whole expensive expression per row
      // while pruning nothing this engine's operators did not already
      // prune (every graft op null-filters its keys at the source — the
      // connectedComponents/editDistance/linesOf pattern — so the inference is
      // redundant here, unlike schemas with nullable join keys). A/B on
      // the dedup/text subset: 13.9 s → 11.5 s (dd_editdist 2.6→1.3,
      // dd_jaccard_join 1.05→0.68). Env-overridable for workloads with
      // null-heavy keys and no explicit filters, where the inferred
      // null-pruning before exchanges is worth the duplicated exprs.
      .config("spark.sql.constraintPropagation.enabled",
        sys.env.getOrElse("SPARK_GRAFT_CONSTRAINT_PROPAGATION", "false"))
      .config("spark.ui.enabled", "false")

  /** Register graft's UDT, SQL functions and optimizer rules on an
    * existing session.
    */
  def enable(spark: SparkSession): SparkSession = {
    graft.geom.GeometryUDT.init()
    graft.functions.FunctionRegistration.registerAll(spark)
    graft.plans.RuleRegistration.registerAll(spark)
    spark
  }
}
