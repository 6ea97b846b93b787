package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lake table maintenance: MERGE (CDC upsert/delete) and slowly-
  * changing-dimension type 2 history — the two mutation patterns a
  * parquet lake needs that plain `INSERT OVERWRITE` can't express.
  *
  * Scale posture: both operators are ONE hash shuffle of
  * `target ∪ changes` on the merge key (the window/join partitions by
  * key, and AQE coalesces post-shuffle). There is no driver-side
  * state, no collect, and no per-row lookup — at 100 TB the cost is
  * the same as one key-partitioned rewrite of the table, which is the
  * floor for any merge. (A production lakehouse additionally prunes
  * the rewrite to affected FILES via min/max stats; that half is the
  * storage format's job — see [[Lake.zOrderForWrite]] for the layout
  * that makes such pruning effective.)
  */
object Merge {

  /** SQL MERGE semantics over whole tables: source rows upsert into
    * the target by `keys` (matched rows take the source version,
    * unmatched source rows insert), with optional CDC semantics via
    * `opCol`: a source column holding `I`/`U` (upsert) or `D`
    * (delete — the key's rows, including any same-batch upsert, are
    * removed; delete wins, matching CDC compaction). When a key
    * appears multiple times in the source, `seqCol` (descending)
    * picks the latest change; without it, source-key uniqueness is
    * the caller's contract (nondeterministic pick otherwise — same
    * contract as Spark's own `dropDuplicates`).
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String],
                  opCol: Option[String] = None,
                  seqCol: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val deletes = opCol.map { c =>
      source.filter(col(c) === "D").select(keys.map(col): _*).distinct()
    }
    val upserts = {
      val s = opCol.map(c => source.filter(col(c) =!= "D").drop(c))
        .getOrElse(source)
      seqCol.fold(s)(_ => s) // seq participates in ordering below
    }
    val seqOrder = seqCol.map(c => col(c).desc).toSeq
    val tagged = upserts.withColumn("_pri", lit(1))
      .unionByName(target
        .withColumn("_pri", lit(0))
        .withColumns(seqCol.map(c => c -> lit(null)).toMap))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_pri").desc +: seqOrder: _*)
    val merged = tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_pri" +: "_rn" +: seqCol.toSeq: _*)
    deletes.fold(merged)(d => merged.join(d, keys, "left_anti"))
  }

  /** Slowly-changing-dimension TYPE 2: apply one batch of updates to a
    * versioned dimension, preserving history. The dimension carries
    * `(key, attrs…, validFrom, validTo, currentCol)`; `updates`
    * carries `(key, attrs…, effectiveCol)` with at most one row per
    * key (CDC-compacted — enforce upstream with [[mergeUpsert]]'s
    * seqCol pattern). Semantics:
    *
    *  - history rows (`currentCol = false`) pass through untouched;
    *  - a current row whose update CHANGES an attr closes
    *    (`validTo = effective`, no longer current) and a new current
    *    version opens at the effective time;
    *  - a no-op update (every attr null-safe-equal) changes nothing —
    *    re-applying a batch is idempotent;
    *  - an unmatched update key inserts a brand-new current row.
    */
  def scd2Apply(dim: DataFrame, updates: DataFrame, key: String,
                attrs: Seq[String], effectiveCol: String,
                validFrom: String = "valid_from",
                validTo: String = "valid_to",
                currentCol: String = "is_current"): DataFrame = {
    require(attrs.nonEmpty, "scd2 needs at least one tracked attribute")
    val outCols = (key +: attrs) ++ Seq(validFrom, validTo, currentCol)
    val hist = dim.filter(!col(currentCol)).select(outCols.map(col): _*)
    val cur = dim.filter(col(currentCol))
    val joined = cur.as("t")
      .join(updates.as("u"), col(s"t.$key") === col(s"u.$key"),
        "full_outer")
    val changed = attrs.map(a => !(col(s"t.$a") <=> col(s"u.$a")))
      .reduce(_ || _)
    val hasT = col(s"t.$key").isNotNull
    val hasU = col(s"u.$key").isNotNull
    // surviving current rows: no update, or a no-op update
    val kept = joined.filter(hasT && (!hasU || !changed))
      .select((col(s"t.$key").as(key) +: attrs.map(a => col(s"t.$a"))) ++
        Seq(col(s"t.$validFrom").as(validFrom),
          col(s"t.$validTo").as(validTo),
          col(s"t.$currentCol").as(currentCol)): _*)
    // closed-out versions: a real change ends the current row
    val closed = joined.filter(hasT && hasU && changed)
      .select((col(s"t.$key").as(key) +: attrs.map(a => col(s"t.$a"))) ++
        Seq(col(s"t.$validFrom").as(validFrom),
          col(s"u.$effectiveCol").as(validTo),
          lit(false).as(currentCol)): _*)
    // fresh current versions: changed keys and brand-new keys
    val fresh = joined.filter(hasU && (!hasT || changed))
      .select((col(s"u.$key").as(key) +: attrs.map(a => col(s"u.$a"))) ++
        Seq(col(s"u.$effectiveCol").as(validFrom),
          lit(null).cast(dim.schema(validTo).dataType).as(validTo),
          lit(true).as(currentCol)): _*)
    hist.unionByName(kept).unionByName(closed).unionByName(fresh)
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE (the lakehouse "materialized
    * view refresh" kernel): given yesterday's aggregate state
    * `(keys…, cntCol, sumCol)` and a CDC delta of base-table rows
    * (`opCol` = I/U insert, D delete-of-a-previously-counted-row),
    * produce today's state WITHOUT rescanning the base table —
    * count and sum are self-maintainable aggregates, so
    * `new = prev ⊕ Σ(±delta)`.
    *
    * Scale posture — this is the operator whose absence costs the
    * most at 100 TB: a nightly dashboard over a 100 TB fact table is
    * either one full-corpus aggregation per day, or THIS — one
    * aggregation of the (delta-sized) change stream plus one key join
    * against the (group-cardinality-sized) prior state. Neither input
    * is corpus-sized; with both sides bucketed by key the join is
    * shuffle-free. Derived aggregates (avg = sum/cnt) recompute from
    * the maintained pair; MIN/MAX are deliberately NOT offered — they
    * are not self-maintainable under deletes (a deleted extremum
    * needs the base table), and a silent wrong min is worse than a
    * missing feature.
    *
    * Keys whose count reaches zero drop out (exactly what a
    * from-scratch recompute produces). Exactness is the CALLER's
    * contract: pass an exact-typed value column (decimal/integer) —
    * float sums would drift from a recompute by accumulation order.
    * A delete for a key absent from `prev` leaves a negative-count
    * row; it is retained (not silently dropped) so reconciliation
    * jobs can detect the inconsistent delta.
    */
  def incrementalAgg(prev: DataFrame, delta: DataFrame, keys: Seq[String],
                     valCol: String, opCol: String,
                     cntCol: String = "n_rows",
                     sumCol: String = "val_sum"): DataFrame = {
    require(keys.nonEmpty, "incremental aggregation needs key columns")
    val sgn = when(col(opCol) === "D", -1).otherwise(1)
    val d = delta.groupBy(keys.map(col): _*)
      .agg(sum(sgn).as("_dn"),
        sum(when(col(opCol) === "D", -col(valCol))
          .otherwise(col(valCol))).as("_ds"))
    prev.join(d, keys, "full_outer")
      .withColumn(cntCol,
        coalesce(col(cntCol), lit(0L)) + coalesce(col("_dn"), lit(0L)))
      .withColumn(sumCol,
        coalesce(col(sumCol), lit(0)) + coalesce(col("_ds"), lit(0)))
      .filter(col(cntCol) =!= 0)
      .drop("_dn", "_ds")
  }
}
