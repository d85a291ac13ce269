package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources.Filter

/** CHANGE-DATA FEED (VERDICT r16 Next #4, the Delta CDF shape,
  * batch-first): [[readChanges]] derives a row-level change log
  * between two snapshot generations from the manifest history alone —
  * no change files are ever written. Each returned row carries
  * `_change_type` ('insert' | 'delete') and `_commit_gen` (the
  * generation that produced it), so a consumer that cannot use the
  * append-only snapshot stream (which refuses on rewrites and MoR
  * deletes by design) can reconstruct any state:
  *
  *   state(toGen) = state(fromGen) ⊎ inserts − deletes   (multisets)
  *
  * Per adjacent generation window (g, g']:
  *   - files ADDED by g' emit their rows as inserts (read with the
  *     deletes applicable AT g' — a delta commit's position deletes
  *     scope pre-commit files only, so its inserts are clean);
  *   - files REMOVED by g' emit their g-visible rows as deletes
  *     (a compaction therefore emits delete+insert pairs that cancel
  *     in the reconstruction);
  *   - deletes NEW in g' on carried files (predicate tombstones,
  *     position deletes) emit exactly the rows they killed — computed
  *     PER FILE: rows visible at g whose new predicate is TRUE or
  *     whose physical position is newly deleted.
  *
  * The per-window DIFF logic ([[window]]) and the cross-snapshot
  * evolution accumulation ([[evolutionOver]]) are SHARED with the
  * streaming feed ([[ManifestChangesStream]]) — the two feeds are
  * documented to agree change-for-change, so they compute changes
  * through one code path (code-review r17).
  *
  * Scale shape: each window reads only the files its commit touched
  * (added, removed, or newly delete-scoped); nothing is ever diffed
  * row-wise against the full table.
  */
object ManifestChanges {

  /** One generation window's change plan, in the OUTPUT schema's column
    * space (tombstone references remapped through the accumulated
    * evolution ledger). `killed` lists carried files whose window-new
    * deletes remove rows: (bare name, new predicates, new position
    * files). `revived` is its mirror (r19 rollback): carried files
    * whose deletes DISAPPEAR in the window — the shape a
    * `system.rollback` past a MoR DELETE publishes (no file changes,
    * tombstones vanish) — emitting the resurrected rows as inserts;
    * before rollback no commit path could drop a delete from a carried
    * file without also rewriting it.
    */
  case class Window(gen: Long, added: Seq[String], removed: Seq[String],
      prevDel: Map[String, Seq[Filter]], curDel: Map[String, Seq[Filter]],
      prevPos: Map[String, Seq[String]], curPos: Map[String, Seq[String]],
      killed: Seq[(String, Seq[Filter], Seq[String])],
      revived: Seq[(String, Seq[Filter], Seq[String])])

  /** The evolution ledger accumulated over a RANGE of retained
    * snapshots (schema-header-less tails, ascending) — see
    * [[ManifestEvolution.accumulate]] for why the live ledger alone is
    * not enough (a rewrite clears it while retained snapshots still
    * reference prior-named files).
    */
  def evolutionOver(tailsAscending: Seq[Seq[String]],
      outputSchemaNames: Set[String]): Seq[String] = {
    val (lines, retired) =
      ManifestEvolution.accumulateWithRetired(tailsAscending)
    // a retired name (rename prior / dropped column whose reservation a
    // rewrite released) reintroduced as a live column means the replay
    // range spans two columns sharing one physical name — one global
    // map cannot resolve both vintages
    val clash = retired.intersect(outputSchemaNames)
    if (clash.nonEmpty) throw new IllegalStateException(
      s"ambiguous evolution history: column name(s) ${clash.mkString(", ")} " +
        "were retired by a rewrite and later reintroduced — a change feed " +
        "across both vintages cannot resolve them; start the feed after " +
        "the rewrite's generation")
    lines
  }

  /** Diff ONE window (prev → cur). Both states are already read in the
    * output column space ([[ManifestState.under]] the feed's
    * accumulated ledger), so their tombstone predicates are remapped; a
    * predicate referencing a column OUTSIDE `schemaNames` (dropped after
    * the tombstone was folded) REFUSES loudly — evaluating it against
    * the output schema would silently resurrect deleted rows.
    */
  def window(gen: Long, prev: ManifestState, cur: ManifestState,
      schemaNames: Set[String]): Window = {
    val prevNames = prev.names
    val curNames = cur.names
    val prevDel = prev.deletes
    val curDel = cur.deletes
    val refs = (prevDel.valuesIterator ++ curDel.valuesIterator)
      .flatten.flatMap(_.references).toSet
    val missing = refs -- schemaNames
    if (missing.nonEmpty) throw new IllegalStateException(
      s"change window ending at generation $gen carries a tombstone " +
        s"referencing ${missing.mkString(", ")} — dropped from the schema " +
        "after the delete was folded; replaying it against the live schema " +
        "would be unsound. Start the change read after the drop's generation")
    val prevPos = prev.posDeletes
    val curPos = cur.posDeletes
    val added = (curNames.toSet -- prevNames).toSeq.sorted
    val removed = (prevNames.toSet -- curNames).toSeq.sorted
    val carried = prevNames.filter(curNames.toSet)
    val killed = carried.flatMap { n =>
      val newPreds = (curDel.getOrElse(n, Seq.empty).toSet --
        prevDel.getOrElse(n, Seq.empty)).toSeq
      val newPos = (curPos.getOrElse(n, Seq.empty).toSet --
        prevPos.getOrElse(n, Seq.empty)).toSeq.sorted
      if (newPreds.nonEmpty || newPos.nonEmpty) Some((n, newPreds, newPos))
      else None
    }
    val revived = carried.flatMap { n =>
      val droppedPreds = (prevDel.getOrElse(n, Seq.empty).toSet --
        curDel.getOrElse(n, Seq.empty)).toSeq
      val droppedPos = (prevPos.getOrElse(n, Seq.empty).toSet --
        curPos.getOrElse(n, Seq.empty)).toSeq.sorted
      if (droppedPreds.nonEmpty || droppedPos.nonEmpty)
        Some((n, droppedPreds, droppedPos))
      else None
    }
    Window(gen, added, removed, prevDel, curDel, prevPos, curPos, killed,
      revived)
  }

  def readChanges(spark: SparkSession, root: String, fromGen: Long,
      toGen: Long): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val rootP = Paths.get(root)
    // MAIN lineage only (r19): branch commits share the global
    // numbering but are not table history until fast-forwarded
    val retained = ManifestSink.mainSnapshots(root)
    require(fromGen == 0L || retained.contains(fromGen),
      s"generation $fromGen of $root is not retained — " +
        s"available: ${retained.mkString(",")}")
    // toGen must be addressable too, or an expired bound would silently
    // truncate the feed to whatever happens to be retained (code-review
    // r17); retention expires a PREFIX, so validated endpoints imply no
    // interior gaps
    require(toGen == fromGen || retained.contains(toGen),
      s"generation $toGen of $root is not retained — " +
        s"available: ${retained.mkString(",")}")
    val gens = retained.filter(g => g > fromGen && g <= toGen)

    def stateAt(g: Long): ManifestState =
      ManifestState.at(rootP, g).getOrElse(throw new IllegalArgumentException(
        s"snapshot $g of $root expired — retain more generations " +
          "or start the change read from a retained one"))

    // toGen's schema reads every window (older files resolve by name;
    // columns they predate read null — same rule as the live scan)
    val schemaGen = gens.lastOption.getOrElse(retained.lastOption.getOrElse(0L))
    require(schemaGen > 0L, s"no retained snapshots at $root")
    // one read per snapshot in range; each state serves the evolution
    // accumulation and the window diffs (as both cur and next prev)
    val rangeGens = ((fromGen +: gens) :+ schemaGen).distinct.sorted
    val read: Map[Long, ManifestState] =
      rangeGens.filter(_ > 0L).map(g => g -> stateAt(g)).toMap
    val ddl = read(schemaGen).ddl
    val schema = read(schemaGen).schema
    // evolution accumulated ACROSS the range's snapshots (code-review
    // r17: a compaction clears the live ledger while retained snapshots
    // still reference prior-named files — the union recovers the map);
    // every state is then read in the output column space it defines.
    // A rename whose target was later dropped maps to a column absent
    // from the output schema: its cells are simply not emitted.
    val evo = evolutionOver(
      rangeGens.map(g => read.get(g).fold(Seq.empty[String])(_.rawTail)),
      schema.fieldNames.toSet)
    val states: Map[Long, ManifestState] = rangeGens.map(g => g ->
      read.getOrElse(g, ManifestState.empty(rootP, ddl)).under(evo, ddl)).toMap
    val aliases = states(schemaGen).aliases
    val schemaNames = schema.fieldNames.toSet

    def dataPath(n: String): String = rootP.resolve("data").resolve(n).toString
    def withType(df: DataFrame, t: String, g: Long): DataFrame =
      df.select((schema.fieldNames.map(col) :+
        lit(t).as("_change_type") :+ lit(g).as("_commit_gen")).toIndexedSeq: _*)

    var prev = fromGen
    val parts = Seq.newBuilder[DataFrame]
    gens.foreach { g =>
      val w = window(g, states(prev), states(g), schemaNames)

      // INSERTS: the added files' rows as visible at g
      if (w.added.nonEmpty)
        parts += withType(ManifestSink.readDataFiles(spark, states(g),
          w.added.map(dataPath)), "insert", g)
      // DELETES (a): removed files' rows as visible at the window start
      if (w.removed.nonEmpty)
        parts += withType(ManifestSink.readDataFiles(spark, states(prev),
          w.removed.map(dataPath)), "delete", g)

      // DELETES (b), PER FILE: carried files with deletes new in g emit
      // the rows those deletes killed
      w.killed.foreach { case (n, newPreds, newPos) =>
        val predCond = newPreds.map(p =>
          ManifestSink.filterToColumn(p).getOrElse(
            throw new IllegalStateException(
              s"untranslatable tombstone predicate $p in change feed")))
          .reduceOption(_ || _)
        val killedDf: DataFrame =
          if (newPos.isEmpty) {
            // predicate-only: killed = old-visible rows where the new
            // predicate is TRUE (SQL delete semantics)
            val oldVis = ManifestSink.readDataFiles(spark, states(prev),
              Seq(dataPath(n)))
            oldVis.filter(coalesce(predCond.get, lit(false)))
          } else {
            // positional (parquet-only payload by construction): one
            // provenance read; killed = newly-deleted position OR new
            // predicate TRUE, deduped per PHYSICAL row
            val raw = ManifestSink.aliasResolved(
              spark.read
                .schema(ManifestSink.aliasReadSchema(schema, aliases))
                .parquet(dataPath(n))
                .withColumn("__p", col("_metadata.row_index")),
              schema, aliases, extras = Seq("__p"))
            val oldVis = {
              val pv = w.prevPos.getOrElse(n, Seq.empty)
              val base = if (pv.isEmpty) raw else {
                val pd = spark.read.schema(ManifestPosDeletes.DeleteSchema)
                  .parquet(pv: _*).filter(col("f") === lit(n))
                  .withColumnRenamed("p", "__pp")
                raw.join(pd, raw("__p") === pd("__pp"), "left_anti")
              }
              val pc = w.prevDel.getOrElse(n, Seq.empty).map(p =>
                ManifestSink.filterToColumn(p).getOrElse(
                  throw new IllegalStateException(
                    s"untranslatable tombstone predicate $p in change feed")))
                .reduceOption(_ || _)
              pc match {
                case Some(c) => base.filter(coalesce(
                  org.apache.spark.sql.functions.not(c), lit(true)))
                case None => base
              }
            }
            val nd = spark.read.schema(ManifestPosDeletes.DeleteSchema)
              .parquet(newPos: _*).filter(col("f") === lit(n))
              .withColumnRenamed("p", "__dp")
            val byPos = oldVis.join(nd, oldVis("__p") === nd("__dp"),
              "left_semi")
            val both = predCond match {
              case Some(c) => byPos.unionByName(
                oldVis.filter(coalesce(c, lit(false))))
                .dropDuplicates("__p") // one physical row = one delete
              case None => byPos
            }
            both.drop("__p")
          }
        parts += withType(killedDf, "delete", g)
      }

      // INSERTS (b), PER FILE (r19 rollback): carried files whose
      // deletes DROPPED in g emit the resurrected rows — visible at g,
      // killed at the window start by exactly the dropped deletes. The
      // killed arm with prev/cur roles swapped.
      w.revived.foreach { case (n, droppedPreds, droppedPos) =>
        val predCond = droppedPreds.map(p =>
          ManifestSink.filterToColumn(p).getOrElse(
            throw new IllegalStateException(
              s"untranslatable tombstone predicate $p in change feed")))
          .reduceOption(_ || _)
        val revivedDf: DataFrame =
          if (droppedPos.isEmpty) {
            // predicate-only: resurrected = g-visible rows where a
            // dropped predicate is TRUE (they were dead for exactly
            // that reason; rows a REMAINING delete still kills are not
            // g-visible and never reach the filter)
            val curVis = ManifestSink.readDataFiles(spark, states(g),
              Seq(dataPath(n)))
            curVis.filter(coalesce(predCond.get, lit(false)))
          } else {
            // positional: one provenance read; resurrected = dropped
            // position OR dropped predicate TRUE among g-visible rows,
            // deduped per PHYSICAL row
            val raw = ManifestSink.aliasResolved(
              spark.read
                .schema(ManifestSink.aliasReadSchema(schema, aliases))
                .parquet(dataPath(n))
                .withColumn("__p", col("_metadata.row_index")),
              schema, aliases, extras = Seq("__p"))
            val curVis = {
              val pv = w.curPos.getOrElse(n, Seq.empty)
              val base = if (pv.isEmpty) raw else {
                val pd = spark.read.schema(ManifestPosDeletes.DeleteSchema)
                  .parquet(pv: _*).filter(col("f") === lit(n))
                  .withColumnRenamed("p", "__pp")
                raw.join(pd, raw("__p") === pd("__pp"), "left_anti")
              }
              val pc = w.curDel.getOrElse(n, Seq.empty).map(p =>
                ManifestSink.filterToColumn(p).getOrElse(
                  throw new IllegalStateException(
                    s"untranslatable tombstone predicate $p in change feed")))
                .reduceOption(_ || _)
              pc match {
                case Some(c) => base.filter(coalesce(
                  org.apache.spark.sql.functions.not(c), lit(true)))
                case None => base
              }
            }
            val dd = spark.read.schema(ManifestPosDeletes.DeleteSchema)
              .parquet(droppedPos: _*).filter(col("f") === lit(n))
              .withColumnRenamed("p", "__dp")
            val byPos = curVis.join(dd, curVis("__p") === dd("__dp"),
              "left_semi")
            val both = predCond match {
              case Some(c) => byPos.unionByName(
                curVis.filter(coalesce(c, lit(false))))
                .dropDuplicates("__p") // one physical row = one insert
              case None => byPos
            }
            both.drop("__p")
          }
        parts += withType(revivedDf, "insert", g)
      }
      prev = g
    }
    val out = parts.result()
    if (out.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      withType(empty, "insert", toGen).limit(0)
    } else if (out.length <= UnionBatch) out.reduce(_.unionByName(_))
    else {
      // PLAN-DEPTH CAP (VERDICT r17 Next #5): a full-history replay over
      // thousands of commits would otherwise union O(windows ×
      // touched-files) scan subtrees into one logical plan and stress
      // driver planning. Batch the per-window change frames: every
      // UnionBatch frames union and localCheckpoint into a single
      // materialized leaf, so the final plan is a flat union of
      // ceil(parts / UnionBatch) leaves — each leaf's own plan is
      // bounded, and CombineUnions flattens the top. The short-range
      // path above stays zero-overhead (no materialization). LAZY
      // checkpoints (code-review r18): batches compute on first action,
      // not at construction, so a caller that never materializes pays
      // nothing. Checkpoint blocks live until the ContextCleaner (or an
      // explicit sparkContext.getPersistentRDDs unpersist, the Bench
      // discipline) reclaims them — the price of bounded plan depth.
      out.grouped(UnionBatch)
        .map(_.reduce(_.unionByName(_)).localCheckpoint(eager = false))
        .reduce(_.unionByName(_))
    }
  }

  /** Change frames per unioned-and-checkpointed sub-plan in a
    * long-range [[readChanges]] (each frame holds a handful of file
    * scans, so a sub-plan stays well under a hundred nodes).
    */
  private[sources] val UnionBatch = 16
}
