package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE INTO semantics as a batch operator — the Delta/Iceberg upsert
  * primitive the lake-maintenance story needs next to compaction
  * (`x_latest_by_key`) and snapshot diff (`a_schema_diff`): apply a
  * changelog of upserts and deletes to a keyed target snapshot.
  *
  * Shape (the 100 TB argument): the changelog first compacts to its
  * LATEST row per key via ONE struct-max aggregation — a single
  * map-side-combining shuffle, never a sort-the-world window (the
  * `x_latest_by_key` discipline) — then ONE full-outer equi-join on the
  * key resolves:
  *   - matched, op = upsert  → the change's values win
  *   - matched, op = delete  → the row is dropped
  *   - source-only upsert    → insert
  *   - source-only delete    → no-op (delete of an absent key)
  *   - target-only           → carried unchanged
  *
  * Determinism: "latest" is the lexicographic struct order over
  * (orderCols…), so replays and engines agree on which change wins; make
  * the last order column a unique id (the changelog's sequence number)
  * and ties cannot exist at all.
  */
object Merge {

  /** Guard a changelog's op column: anything outside {upsert, delete}
    * (including NULL — which three-valued logic would otherwise turn
    * into a silent delete) fails the job instead of corrupting state. */
  private def validatedOp(opCol: String) =
    when(col(s"`$opCol`").isin("upsert", "delete"), col(s"`$opCol`"))
      .otherwise(expr(
        s"raise_error(concat('Merge: unknown op ', coalesce(`$opCol`, 'NULL')))"))

  /** Apply `changes` (target schema + an `opCol` of 'upsert'/'delete')
    * to `target`, keyed by `keyCols`, latest-change-wins ordered by
    * `orderCols`. Output has exactly the target's schema.
    */
  def upsert(target: DataFrame, changes: DataFrame, keyCols: Seq[String],
             orderCols: Seq[String], opCol: String = "op"): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty)
    val valueCols = target.columns.filterNot(keyCols.contains).toSeq
    require(valueCols.forall(changes.columns.contains),
      "changes must carry every target column")
    // struct-max compaction: order fields first, then op + remaining
    // values ride along (never compared once the unique order key wins)
    val structFields =
      (orderCols ++ Seq(opCol) ++ valueCols.filterNot(orderCols.contains))
        .distinct.map(c => col(c).as(c))
    val latest = changes.withColumn(opCol, validatedOp(opCol))
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(structFields: _*)).as("__c"))
    val joined = target.as("t").join(latest, keyCols, "full_outer")
    val hasChange = col("__c").isNotNull
    // a delete drops the row whether the key existed (matched delete)
    // or not (delete of an absent key = no-op): one predicate covers both
    val isDelete = hasChange && col("__c").getField(opCol) === "delete"
    // output in the TARGET's own column order — positional consumers
    // (insertInto, existing parquet schemas) must see the same layout
    joined.filter(!isDelete)
      .select(target.columns.toSeq.map { c =>
        if (keyCols.contains(c)) col(c)
        else when(hasChange, col("__c").getField(c)).otherwise(col(s"t.$c")).as(c)
      }: _*)
  }

  /** Last-writer-wins CDC apply with TOMBSTONES — the out-of-order-safe
    * sibling of [[upsert]]: [[upsert]] assumes an ordered changelog (the
    * latest batch wins), which breaks the moment micro-batches or
    * replayed files arrive out of order. Here the winner per key is the
    * globally max (orderCols…) row across state ∪ changes, and DELETES
    * PERSIST as tombstone rows in the state (a later-arriving OLDER
    * upsert must not resurrect a deleted key — the classic LWW-register
    * semantics). Because one struct-max decides the winner, the fold is
    * COMMUTATIVE and ASSOCIATIVE over any batch split: applying batches
    * in any order equals one-shot compaction — exactly what a streaming
    * `foreachBatch` needs. State schema = key cols + `opCol` + values;
    * read the live view with [[liveView]].
    */
  def upsertLww(state: DataFrame, changes: DataFrame, keyCols: Seq[String],
                orderCols: Seq[String], opCol: String = "op"): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty)
    val valueCols = changes.columns.filterNot(keyCols.contains).toSeq
    require(valueCols.contains(opCol), s"changes must carry $opCol")
    require(state.columns.sorted.sameElements(changes.columns.sorted),
      "state and changes must share one schema (state keeps tombstones)")
    val structFields =
      (orderCols ++ valueCols.filterNot(orderCols.contains))
        .distinct.map(c => col(c).as(c))
    // validate BOTH sides: persisted state can be hand-loaded or
    // externally written, and a NULL/unknown op there would otherwise
    // pass compaction unvalidated and be silently dropped by liveView's
    // three-valued `op =!= "delete"` — corrupted state fails as loudly
    // as a corrupted changelog (both sides are scanned anyway)
    state.withColumn(opCol, validatedOp(opCol))
      .unionByName(changes.withColumn(opCol, validatedOp(opCol)))
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(structFields: _*)).as("__w"))
      .select(keyCols.map(col) ++ valueCols.map(c =>
        col("__w").getField(c).as(c)): _*)
  }

  /** The queryable face of an [[upsertLww]] state: tombstones filtered. */
  def liveView(state: DataFrame, opCol: String = "op"): DataFrame =
    state.filter(col(s"`$opCol`") =!= "delete")
}
