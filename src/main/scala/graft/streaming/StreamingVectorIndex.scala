package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Ivf

/** Vector-index CDC ingestion — the write path of a vector database:
  * upserts arrive as full rows (id, vector, attribute columns…) in
  * epoch files; each micro-batch applies DELETE-THEN-APPEND against
  * the persisted IVF index as ONE fused maintenance pass
  * ([[Ivf.upsertToIndex]] — round-16: the sequential
  * deleteFromIndex + appendToIndex pair rebuilt every doubly-touched
  * partition twice and paid the corpus scan, schema probe and row
  * restamp each; the fused pass is state-identical, UpsertFusionSpec),
  * so a search immediately after the stream drains sees exactly the
  * latest version of every vector — never both, never neither.
  *
  * `foreachBatch`, not a row transform: index maintenance is a
  * transactional side effect on an external artifact, the same shape
  * as [[StreamingCdc]]'s snapshot generations. The per-batch changed-id
  * set becomes the delete: an `isin` literal predicate up to
  * `maxInlineDeleteIds` distinct ids (the common epoch — the list
  * folds into the scan filter), a distributed semi/anti-join
  * ([[Ivf.deleteIdsFromIndex]]) past it, so a BULK-delete epoch never
  * round-trips through the driver (round-15 VERDICT #4; both paths
  * spec-pinned to identical index state). A feed that re-ships the
  * world should still rebuild via `ensureIndex` instead.
  * Within a batch, duplicate ids collapse deterministically
  * (lexicographic max of the vector struct) — a well-formed feed
  * carries one row per id per epoch, and replaying an epoch is then
  * idempotent: the delete removes what the replayed append wrote.
  *
  * Drift contract unchanged: every epoch is one
  * [[graft.operators.ClusterStore.mutate]], the path batch maintenance
  * takes too, so it moves the `_ROWS`/`_ROWS_BASE` meters exactly like
  * batch maintenance and `needsRebuild` still decides when the
  * centroids have outlived the distribution.
  */
object StreamingVectorIndex {

  /** Drain everything unprocessed in `feedDir` into the IVF index at
    * `indexPath` (which must exist — build the initial corpus with
    * `ensureIndex` first). With `opCol` set, the feed is a full CDC
    * changelog: rows whose op is `"D"` delete their id without a
    * re-append (tombstones); every other row upserts. An id carrying
    * BOTH a D and an upsert in one epoch resolves to the upsert (the
    * epoch contract is one op per id; delete-then-append applies the
    * surviving row either way).
    */
  def upsertStream(spark: SparkSession, feedDir: String,
                   indexPath: String, checkpoint: String,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   opCol: Option[String] = None,
                   maxInlineDeleteIds: Int = 10000): Unit =
    upsertStreamImpl(spark, feedDir, checkpoint, idCol, vecCol, opCol,
      maxInlineDeleteIds,
      upsertFn = (p, d, hint, _) => {
        Ivf.upsertToIndex(spark, indexPath, p, d, idCol, vecCol,
          deltaRowsHint = hint); ()
      },
      upsertIdsFn = (ids, d) => {
        Ivf.upsertIdsToIndex(spark, indexPath, ids, d, idCol, vecCol); ()
      })

  /** The graph twin: same epoch contract against an HNSW index —
    * deletes rebuild touched shards canonically, appends route
    * through the existing centroids.
    */
  def upsertStreamHnsw(spark: SparkSession, feedDir: String,
                       indexPath: String, checkpoint: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       opCol: Option[String] = None,
                       maxInlineDeleteIds: Int = 10000): Unit =
    upsertStreamImpl(spark, feedDir, checkpoint, idCol, vecCol, opCol,
      maxInlineDeleteIds,
      upsertFn = (p, d, hint, localVecs) => {
        // the probe already holds the epoch's vectors — the shard set
        // the delta touches computes driver-side through the SAME
        // static kernel the distributed assign runs (bit-identical;
        // UpsertFusionSpec), saving the per-epoch distinct-scan job
        val clusters = localVecs.map { vs =>
          val model = Ivf.loadModelCached(spark, s"$indexPath/centroids")
          val norms = graft.functions.NativeExpressions
            .centroidNorms(model.centroids)
          vs.iterator.map(v => graft.functions.NativeExpressions
            .nearestCentroidDriver(v, model.centroids, norms))
            .toArray.distinct
        }
        graft.operators.Hnsw.upsertToIndex(spark, indexPath, p, d,
          idCol, vecCol, deltaRowsHint = hint,
          deltaClustersHint = clusters); ()
      },
      upsertIdsFn = (ids, d) => {
        graft.operators.Hnsw.upsertIdsToIndex(spark, indexPath, ids, d,
          idCol, vecCol); ()
      })

  private def upsertStreamImpl(spark: SparkSession, feedDir: String,
                   checkpoint: String, idCol: String, vecCol: String,
                   opCol: Option[String],
                   maxInlineDeleteIds: Int,
                   upsertFn: (org.apache.spark.sql.Column, DataFrame,
                     Option[Long], Option[IndexedSeq[Seq[Float]]]) => Unit,
                   upsertIdsFn: (DataFrame, DataFrame) => Unit): Unit = {
    val schema = spark.read.parquet(feedDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val upserts = opCol.fold(batch)(oc =>
          batch.filter(!(col(oc) <=> lit("D"))).drop(oc))
        val others = upserts.columns.filterNot(_ == idCol).toIndexedSeq
        // delete-then-append touches every id in the batch regardless
        // of op (a tombstoned id deletes and is not re-appended; an
        // upserted id deletes its old version first) — applied as ONE
        // fused upsert pass (round-16: the sequential delete + append
        // rebuilt every doubly-touched partition twice; the fused form
        // rebuilds once and produces the identical index state,
        // UpsertFusionSpec). Two delete forms by batch size (round-15
        // VERDICT #4): up to maxInlineDeleteIds the touched set
        // collects to ONE `isin` literal predicate (cheapest plan —
        // the list folds into the scan filter, no join); past it — a
        // bulk-delete epoch — the ids stay a DataFrame and the delete
        // half is a write-side semi/anti join, so the driver never
        // materializes the list. Both forms produce the identical
        // index state (spec-pinned).
        //
        // ONE probe job decides the route AND carries the epoch
        // (round-17): each per-id group also aggregates its latest
        // upsert row (max struct over non-tombstone rows — exactly the
        // aggregate the two-job form computed over `upserts`), so
        // under the cap the driver leaves this job holding the
        // touched-id list, the delta rows (→ a LocalRelation, no
        // second feed scan), and the delta's non-null-vector count —
        // which lets the index restamp `_ROWS` arithmetically instead
        // of re-walking every corpus file's footer per epoch.
        val uStruct = struct(others.map(col): _*)
        val grouped = batch.groupBy(col(idCol)).agg(
          max(opCol.fold(uStruct)(oc =>
            when(!(col(oc) <=> lit("D")), uStruct))).as("__u"))
        val probe = grouped.limit(maxInlineDeleteIds + 1).collect()
        if (probe.nonEmpty) {
          if (probe.length <= maxInlineDeleteIds) {
            val ids = probe.map(_.get(0)).toIndexedSeq
            val localSchema = org.apache.spark.sql.types.StructType(
              upserts.schema(idCol) +: others.map(upserts.schema(_)))
            val rows = probe.iterator.filterNot(_.isNullAt(1)).map { r =>
              org.apache.spark.sql.Row.fromSeq(
                r.get(0) +: r.getStruct(1).toSeq)
            }.toIndexedSeq
            val localDelta = spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 1), localSchema)
            val vecAt = localSchema.fieldNames.indexOf(vecCol)
            // the epoch's non-null vectors, already in driver hands:
            // the row-count hint feeds the arithmetic _ROWS restamp,
            // the vectors let an engine assign the delta's shards
            // driver-side instead of running a distinct-scan job
            val localVecs =
              if (vecAt < 0) None
              else Some(rows.iterator.filterNot(_.isNullAt(vecAt))
                .map(_.getSeq[Float](vecAt)).toIndexedSeq)
            val hint = localVecs.map(_.length.toLong)
            upsertFn(col(idCol).isin(ids: _*), localDelta, hint, localVecs)
          } else {
            val latest = upserts.groupBy(col(idCol))
              .agg(max(uStruct).as("__u"))
              .select(col(idCol) +:
                others.map(c => col(s"__u.$c").as(c)): _*)
            upsertIdsFn(batch.select(col(idCol)).distinct(), latest)
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
  }
}
