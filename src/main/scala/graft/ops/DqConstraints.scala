package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative DATA-QUALITY CONSTRAINT suite — the dbt-test/Deequ shape:
  * a rulebook of named predicates evaluated into one violations report
  * (rule, n_checked, n_violations, violation_rate) that a load gate can
  * threshold on. Complements the cleaned-CSV sink's `[dq]` line
  * ([[graft.sinks.Sinks.writeCsvAll]], read from the cache fill's
  * counts): this is the standalone audit pass over landed tables.
  *
  * Scale: ALL single-table rules over one frame fold into ONE wide
  * aggregate (one scan however many rules — each rule is a conditional
  * sum with map-side partials), unpivoted to rows with `stack`;
  * referential rules ([[fkOrphans]]) are LEFT ANTI equi-joins on the
  * key — the only shape that counts orphans without collecting either
  * side. Rates are exact integer ratios rounded once.
  */
object DqConstraints {

  /** Evaluate `rules` (name → violation predicate) over `df` in ONE
    * scan. Returns (rule, n_checked, n_violations, violation_rate). */
  def checkRules(df: DataFrame, rules: Seq[(String, Column)])
      : DataFrame = {
    require(rules.nonEmpty, "checkRules: empty rulebook")
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case ((_, bad), i) =>
        sum(when(bad, 1L).otherwise(0L)).as(s"__v_$i")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs: Seq[Column] = rules.zipWithIndex.flatMap {
      case ((nm, _), i) => Seq(lit(nm), col(s"__v_$i"))
    }
    wide.select(col("__n"),
        stack((lit(rules.length) +: stackArgs): _*)
          .as(Seq("rule", "n_violations")))
      .select(col("rule"), col("__n").as("n_checked"),
        col("n_violations"),
        round(col("n_violations") / col("__n").cast("double"), 9)
          .as("violation_rate"))
  }

  /** QUARANTINE ROUTING — the load gate [[checkRules]] only reports:
    * split a frame into (clean, quarantined) on the rulebook's
    * ROW-LOCAL predicates, the reference's `flagged_duplicates`
    * precedent (ecommerce_s3_to_pg.py:274-289) generalized from "key
    * occurs twice" to an arbitrary named rulebook. The quarantined
    * side carries `violated_rules` — the comma-joined names of every
    * rule the row trips, in rulebook order — so the quarantine table
    * is self-describing (re-drive a fixed row through the gate, or
    * aggregate the column for a violations report).
    *
    * Scale: ONE stateless projection (an array of conditional name
    * literals, filtered non-null) and a size() filter per side — no
    * shuffle, no window; rules needing columns from another table
    * (ship-before-order) join them in BEFORE the gate, keeping every
    * predicate row-local at routing time. `cacheBothSides` persists
    * the routed frame for consumers that materialize both halves in
    * one job (the conflictSplit contract).
    *
    * Partition exactness: every input row lands in EXACTLY one half —
    * clean ∪ quarantined = input, clean ∩ quarantined = ∅ (spec-pinned
    * in OpsSpec). */
  def quarantine(df: DataFrame, rules: Seq[(String, Column)],
      cacheBothSides: Boolean = false): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "quarantine: empty rulebook")
    // loud, not silent: withColumn would otherwise CLOBBER caller data
    // under these names — re-driving a previously quarantined frame
    // through the gate must drop its old violated_rules first,
    // explicitly
    Seq("__viol", "violated_rules").foreach { c =>
      require(!df.columns.contains(c),
        s"quarantine: input already has a '$c' column — drop or rename " +
          "it before routing (the gate writes that name)")
    }
    val viol = filter(
      array(rules.map { case (nm, bad) =>
        when(bad, lit(nm)).otherwise(lit(null: String)) }: _*),
      x => x.isNotNull)
    val routed0 = df.withColumn("__viol", viol)
    val routed =
      if (cacheBothSides) CacheScope.persist(routed0) else routed0
    val clean = routed.filter(size(col("__viol")) === 0).drop("__viol")
    val quarantined = routed.filter(size(col("__viol")) > 0)
      .withColumn("violated_rules", array_join(col("__viol"), ","))
      .drop("__viol")
    (clean, quarantined)
  }

  /** Referential-integrity rule: child rows whose `childKey` has no
    * match in `parent.parentKey` (NULL child keys are violations too —
    * a dangling FK either way). One LEFT ANTI join + two 1-row
    * aggregates. */
  def fkOrphans(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, name: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey).as("__pk")),
        col(childKey) === col("__pk"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    child.agg(count(lit(1)).as("n_checked"))
      .crossJoin(orphans)
      .select(lit(name).as("rule"), col("n_checked"),
        col("n_violations"),
        round(col("n_violations") / col("n_checked").cast("double"), 9)
          .as("violation_rate"))
  }
}
