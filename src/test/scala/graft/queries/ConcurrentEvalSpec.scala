package graft.queries

import graft.{SparkEntry, SparkTestBase}

import scala.concurrent.duration._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global

/** The driver (and any interactive user) may evaluate the same query
  * twice at once. Queries that stage an on-disk scratch store must not
  * race each other: each construction gets its own QueryTmp directory,
  * so two concurrent evaluations both see complete, private stores.
  */
class ConcurrentEvalSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  for (q <- Seq("pivot_grid_disk", "pivot_grid_varstats",
    "pivot_grid_append", "ann_ivf_bucketed",
    // round-6 store-lifecycle queries: rechunk writes a second store
    // from a scratch scan; concat builds two member scans
    "pivot_grid_rechunk", "pivot_grid_concat",
    // round-11 STAGED fixtures: two concurrent FIRST evaluations must
    // serialize the build (QueryTmp.staged) and share one committed
    // store — plus the group query goes through the zarr provider's
    // root-keyed store memo concurrently
    "pivot_grid_group", "pivot_grid_zarr",
    // round-12 continuation staged fixtures: the z-ordered events
    // table, the PQ codebook+codes pair (whose first build NESTS a
    // second staged build of another key),
    // and the composed IVF-PQ consumer of both kmeans and PQ stages
    "zorder_prune", "embed_pq", "ann_ivfpq",
    // round-12 fourth continuation staged fixtures: the bloom index
    // (point build; the incremental and compacted variants NEST a
    // write+append(+compact) sequence in one staged build) and the
    // SQ8 probe (whose codes stage nests the quantizer stage)
    "bloom_point_lookup", "bloom_lookup_incremental",
    "bloom_lookup_compacted", "ann_sq8",
    // round-13 staged fixtures: the retrained IVF index (build +
    // retrain nested in one staged build), the bulk-membership
    // consumer of the shared bloom-index stage, and the
    // delete/purge lifecycle stages
    "ann_ivf_retrained", "bloom_bulk_membership",
    "bloom_lookup_deleted", "bloom_lookup_purged",
    "zorder_prune_eq",
    // round-14 staged fixtures: the image near-dup edge list and the
    // build+split IVF lifecycle
    "image_dedup_pipeline", "ann_ivf_split")) {
    test(s"$q: two concurrent evaluations do not race their scratch store") {
      val runs = (1 to 2).map(_ => Future {
        SparkEntry.queries(q)(spark, sf).collect().length
      })
      val counts = Await.result(Future.sequence(runs), 180.seconds)
      assert(counts(0) == counts(1) && counts(0) > 0, s"counts: $counts")
    }
  }
}
