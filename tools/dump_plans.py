"""Generate PLANS.md: the physical plans of the headline queries with the
plan properties each one is designed around (broadcast sides, pushdown,
shuffle counts, codegen spans) — the `.explain("formatted")`-and-iterate
evidence, captured so reviewers don't have to re-run it.

Usage: python tools/dump_plans.py  (writes /root/repo/PLANS.md at sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def main() -> None:
    import __spark_entry__ as em
    from aira_spark.plans.inspect import (
        has_broadcast_join,
        plan_string,
        pushed_filters,
        shuffle_count,
    )
    from aira_spark.session import get_spark

    spark = get_spark("plan-dump", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # query -> the property the plan is designed around
    picks = [
        ("pip", "polygon side broadcast; point side never shuffles; "
                "full-cell OR short-circuits the ray-cast"),
        ("tile_assign", "chunk arithmetic entirely inside whole-stage codegen "
                        "above one decode UDF"),
        ("zonal_stats", "map-side pixel partials in the Arrow UDF; exactly one "
                        "shuffle (final cell agg)"),
        ("within_distance", "broadcast closed disk-bbox cover; planar + "
                            "geodesic arms in one plan, filters as projections"),
        ("window_read", "world-window chunk selection BELOW MapInPandas, one "
                        "row per image (no Generate): the decode UDF gets each "
                        "touched image's bytes once, with its selected chunk ids"),
        ("zonal_rollup", "cell_parent bit arithmetic on partials; single "
                         "shuffle to the coarse grid"),
        ("dedup_minhash", "band buckets shuffle doc-ids only, never text"),
        ("top_customers", "partial+final hash agg; broadcast dim join; "
                          "rank window"),
        ("rasterize_tiles", "chunk-center cell equi-join vs broadcast polygon "
                            "cover (no crossJoin); ray-cast only on candidates"),
        ("repetition_filter", "explode -> two-level hash agg (partial/final "
                              "at both levels) + scalar line/symbol signals as "
                              "a projection arm — nothing quadratic in doc "
                              "length"),
        ("corpus_clean", "three gate arms (md5 dedup agg, quality projection, "
                         "repetition aggs) joined on unique doc_id; no collects"),
        ("lsh_ann", "signature buckets from pure projections; candidate "
                    "equi-join on (table, bucket); exact re-rank on candidates"),
        ("ratio_sort", "exact-rational key as a pure DECIMAL projection; the "
                       "global rank is the demo — at scale use range-partitioned "
                       "orderBy on the key columns"),
        ("zonal_quantiles", "exact order statistics via the distributive value "
                            "histogram: <=256 rows/cell shuffle, never pixels"),
        ("simhash", "pair arm: pigeonhole band equi-join on (band, bval) — "
                    "ids + 64-bit hashes shuffle, never text; Arrow-vectorized "
                    "signature; popcount verify on candidates only"),
        ("footprint_poly", "rect arm: footprint self-join blocked by padded "
                           "cell-cover equi-join (no crossJoin); bbox rides "
                           "the explode so no geometry re-join; exact refine "
                           "as a JVM filter"),
        ("asof_join", "union + last(ignorenulls) running window: ONE shuffle "
                      "on the key, zero per-key row explosion (vs the naive "
                      "range-join + row_number the oracle uses)"),
        ("phash_dedup", "image near-dup banding on the mandated phash column: "
                        "same band equi-join; image bytes never enter an "
                        "exchange"),
        ("decontaminate", "eval-side gram hashes BROADCAST (eval suites are "
                          "small); the corpus side is a map-side hash probe + "
                          "per-doc agg — the 10^12-doc side never shuffles "
                          "before the join"),
        ("cell_compact", "per-level promote (count==4) + anti-join over cell "
                         "IDS only; each level localCheckpointed so the cover "
                         "is scanned once, not 2^levels times"),
        ("raster_regions", "pixel partials combine map-side (cells shuffle, "
                           "never pixels); 4-adjacency is a self-equi-join on "
                           "the bumped cell id; CC rounds shuffle (node,label) "
                           "pairs only"),
        ("pack_sequences", "ONE shuffle keyed on the deterministic hash shard; "
                           "in-shard window cumsum; every output column an "
                           "integer projection"),
        ("semantic_dedup", "clustering is a pure Arrow map (embeddings never "
                           "shuffle to be assigned); within-cluster pairs "
                           "shuffle ID PAIRS; vectors re-attach via vec_id "
                           "equi-joins sized by the candidate count"),
        ("corpus_sample", "deterministic stratified sampling as a pure "
                          "projection + filter: ZERO exchanges, no RNG, "
                          "reproducible across engines and partitionings"),
        ("bm25", "query terms / document frequencies / corpus stats all "
                 "broadcast; hits checkpointed so the corpus is scanned once "
                 "for matching; integer-micro contributions make the agg "
                 "order-independent"),
        ("approx_distinct", "HLL sketch: projection -> two hash aggs; the "
                            "256-register state replaces the distinct-value "
                            "shuffle (register rows per group, not "
                            "vocabulary); no join, no Python nodes"),
        ("focal_mean", "map-algebra stencil: 9-offset Generate + ONE extra "
                       "hash agg; the halo exchange IS the agg's partial "
                       "combine — (pos, sum, cnt) integer rows shuffle, "
                       "pixels never do; max(is_center) replaces a second "
                       "join against the filled set"),
        ("classifier_scores", "corpus gate scoring as a single map pass: "
                              "ZERO exchanges, one Arrow UDF (integer logit "
                              "with per-executor weight table), no join — "
                              "the hashed weights need no weights-table "
                              "broadcast at all"),
        ("cms_counts", "count-min counters: one corpus pass into bounded "
                       "4x1024 state (map-side combined); point queries are "
                       "broadcast left joins of the counter rows — the "
                       "vocabulary never materializes"),
        ("focal_gradient", "weighted stencil through the same scatter-agg "
                           "as focal_mean: stencil weights are data, not "
                           "plan shape; required-neighbor check folded into "
                           "the one aggregation"),
        ("augment_stats", "augmentation is one Arrow map pass (decode -> "
                          "index permutation -> re-encode -> re-decode); "
                          "zero exchanges, stats cross Arrow, pixel buffers "
                          "never shuffle"),
        ("inverted_index", "explode -> two-level hash agg; text pruned "
                           "before every exchange; postings sorted so the "
                           "output is deterministic and mergeable"),
        ("cross_modal_dedup", "two equi-join arms (phash band buckets, "
                              "caption md5) full-outer merged; bytes and "
                              "pixels never shuffle; caption groups guarded "
                              "against boilerplate quadratics"),
        ("dissolve", "rasterize (broadcast cover + ray-cast) -> per-group "
                     "distinct -> grouped per-level compaction; id-only "
                     "aggregations, no vector topology"),
        ("idw", "rides the k-ring kNN prefilter; per-query state is a "
                "k-element sorted array; rank-ordered folds pin float "
                "reproducibility"),
        ("pagerank", "iterative join+agg rounds over integer micros; "
                     "order-independent folds make any parallelism "
                     "bit-identical; SPARSE rounds — teleport folds into "
                     "the edge-side left join, so no per-round zero-fill "
                     "join against the (unbroadcastable at scale) node "
                     "set; lineage checkpointed every 4 rounds"),
        ("png_decode", "encode->decode roundtrip inside ONE mapInPandas "
                       "after an 8-byte/row key spread (the one exchange); "
                       "only 7 integer stat columns cross Arrow, pixel "
                       "buffers never shuffle"),
        ("jpeg_decode", "baseline JPEG encode->decode->verify inside ONE "
                        "mapInPandas after an 8-byte/row key spread (the "
                        "one exchange; without it the dim-table scan's "
                        "single split serializes the roster on one core); "
                        "only 6 integer columns cross Arrow, bytes and "
                        "pixels never shuffle"),
        ("warp", "inverse-mapped NN regrid: decode + pull-resample inside "
                 "ONE mapInPandas — only (tx,ty,val) target rows reach the "
                 "position-keyed partial+final composite agg; pixels never "
                 "in an exchange, no join"),
        ("audio_decode", "RIFF/WAVE encode->decode->stats inside ONE "
                         "mapInPandas after an 8-byte/row key spread (the "
                         "one exchange); only 10 integer columns cross "
                         "Arrow, sample buffers never shuffle"),
        ("video_decode", "MJPEG-AVI encode->container walk->frame decode "
                         "inside ONE mapInPandas after an 8-byte/row key "
                         "spread (the one exchange); 7 integer columns per "
                         "sampled frame cross Arrow, clip bytes never "
                         "shuffle"),
        ("bpe_tokens", "ONE corpus-scale word-count agg trains the merge "
                       "table; encode is a broadcast-merge Arrow map with "
                       "zero shuffles; the merge arm is a tiny local frame"),
        ("kmeans", "assignment = literal-baked array_min projection (zero "
                   "shuffles, no join, no Python); the per-round update agg "
                   "is bounded at k*d rows per task by map-side combine"),
        ("lm_score", "bigram extraction as arrays_zip JVM expressions; LM "
                     "table broadcast into the scoring join — the corpus "
                     "side never shuffles for the join"),
        ("cover_morph", "dilate = k-ring Generate -> distinct; erode = "
                        "symmetric witness-count agg (no cover-x-cover "
                        "join); every exchange carries cell ids only"),
        ("poly_metrics", "quantize-translate-shoelace as one Generate + one "
                         "partial-combined agg; rings never shuffle, only "
                         "integer partials; no join, no Python"),
        ("point_density", "counts agg -> weighted 9-offset scatter -> one "
                          "more agg: the focal halo-exchange shape; counts "
                          "combine map-side before the scatter"),
        ("sssp", "weighted Bellman-Ford rounds: per round one src equi-join "
                 "+ one MIN hash agg; only (node, BIGINT) rows shuffle; "
                 "lineage localCheckpointed"),
        ("interval_overlap", "bin-equi candidate join (bounded <=24-bin "
                             "explode) with the top-K busy-hour side "
                             "BROADCAST; exact integer overlap refine — no "
                             "range-join nested loop"),
        ("source_quota", "skew-proof per-domain cap: phase-1 rank within "
                         "(source, salt) bounds any hot domain before the "
                         "phase-2 re-rank sees it"),
        ("line_dedup", "segment election is ONE map-side-combinable hash agg "
                       "on seg (no window sort on a boilerplate-hot "
                       "segment); reassembly sorts within each doc's own "
                       "collected list"),
        ("hilbert_layout", "layout keys as a zero-shuffle projection: the "
                           "xy->d walk runs vectorized per Arrow batch; "
                           "Morton stays a pure JVM bit-interleave"),
        ("convex_hulls", "one shuffle on the bounded grouping cell; chain "
                         "runs per group in applyInPandas; output is hull "
                         "vertices only"),
        ("adaptive_partitions", "quadtree splits with no recursion: level "
                                "explode -> map-side-combinable counts -> "
                                "one equi-join -> min-level agg"),
        ("segment_intersections", "bbox bin-cover equi-join (proven candidate "
                                  "superset), coords ride the explode, exact "
                                  "4-orientation refine as a JVM filter; loud "
                                  "hot-bin guard"),
        ("route_proximity", "expanded-bbox bin cover vs single-bin points; "
                            "exact clamped-projection distance predicate with "
                            "a lazy overflow guard — all JVM expressions"),
        ("rolling_activity", "RANGE-frame running window above one daily "
                             "hash agg — a single entity-local sort, no "
                             "self-join for the trailing total"),
        ("event_pivot", "built-in pivot with explicit values: one "
                        "partial+final hash agg, static output schema"),
        ("sales_rollup", "native ROLLUP grouping sets: Expand + one hash "
                         "agg above a broadcast dim join"),
        ("grid_dbscan", "DBSCAN with zero pairwise distances: focal "
                        "neighborhood counts -> 8-adjacency bump equi-join "
                        "over core CELLS -> min-label CC -> k-ring border "
                        "labeling; points never join points"),
        ("hist_match", "shared histogram pinned once (both sides ride it); "
                       "pooled reference collapses to ONE sorted array per "
                       "band, the quantile search is a map-side filter+head "
                       "array scan — no candidate fan-out, pixels never in "
                       "an exchange"),
        ("otsu", "argmax WITHOUT division: 128-bit cross-multiplied "
                 "anti self-join over <=256 histogram candidates per "
                 "(image, band); pixels never in an exchange"),
        ("viewshed", "bounded 8*radius ray explode -> ONE equi-join vs the "
                     "fine grid; blocker test is an equi-keyed anti-join "
                     "hard-bounded by radius^2 per ray"),
        ("hausdorff", "shared-cell candidate pairs BROADCAST into the two "
                      "ping joins; only id+coord rows shuffle; directed "
                      "maxes are two map-side-combined agg chains"),
        ("moments", "one Arrow decode pass emits six BIGINTs per band — "
                    "the only exchange payload; central algebra and "
                    "orientation CASE are pure projections"),
        ("stay_points", "gaps-and-islands: ONE entity-local window + one "
                        "map-side-combined hash agg; nothing quadratic"),
        ("areal_interp", "two cover+refine rasterizations (bbox cover "
                         "BROADCASTS); transfer = ONE cell equi-join, "
                         "never polygon x polygon; value table broadcasts"),
        ("xyz_tiles", "libm-free Mercator tiling: one metadata decode "
                      "then a pure projection — zero joins, zero shuffles"),
        ("zonal_majority", "sparse per-(cell,value) histogram partials -> "
                           "one hash agg -> bounded argmax fold; pixels "
                           "never shuffle"),
        ("dp_simplify", "fixed-round breadth-first splits: per round ONE "
                        "map-side-combined argmax agg + broadcast split "
                        "join; rounds pinned by localCheckpoint"),
        ("band_corr", "six bounded integers per band pair are the only "
                      "exchange payload; classification is a pure "
                      "projection; pixels never shuffle"),
        ("heading_census", "ONE entity-local window + one bounded "
                           "map-side-combined agg; integer octant CASE"),
        ("ngram_novelty", "gram-keyed df agg + gram-keyed join back (the "
                          "tfidf exchange class); text never shuffles"),
        ("stretch", "clip points + remap over the <=256-row histogram "
                    "window; pixels never shuffle"),
        ("strahler", "monotone Jacobi rounds run SPARSE (teleport-style "
                     "zero-fill folded into the edge-side left join, probe "
                     "on the sparse side): two narrow aggs per round over "
                     "the checkpointed flow forest"),
        ("ann_recall", "ids-only recall join of two operator outputs; "
                       "broadcast query panel, corpus never shuffles"),
        ("mrl_recall", "two exact-cosine arms over broadcast query panel; "
                       "ids-only recall join"),
        ("link_pred", "wedge self-join keyed on the shared neighbor over the "
                      "checkpointed edge set; left_anti vs edges; id-only "
                      "exchanges"),
        ("dither", "pointwise halftone inside the decode UDF; 4 integers "
                   "per image, zero pre-agg exchanges"),
        ("geohash", "pure integer codegen projection; one map-side-combined "
                    "agg on the bounded prefix key space"),
        ("mosaic_blend", "per-image reduceat partials in the decode UDF; "
                         "partial+final hash agg; pixels never shuffle"),
        ("gap_fill", "one entity-keyed exchange feeds bucket argmax AND the "
                     "LOCF window; grid explode is a generator, not a "
                     "shuffle"),
        ("pii_scrub", "JVM regex in the scan stage; zero exchanges"),
        ("heavy_hitters", "per-batch candidates then broadcast recount; the "
                          "tail never shuffles"),
        ("twa", "duplicate-ts dedup, LEAD and the final fold stack onto one "
                "entity-keyed sort"),
        ("rgb_luma", "pointwise BT.601 map inside the decode UDF; 5 "
                     "integers per image, zero pre-agg exchanges"),
        ("allpairs_cosine", "prefix rows only enter the candidate term "
                            "join; verification rides candidate ids; text "
                            "never shuffles"),
        ("cusum", "cumsum + running-min + census fold into one "
                  "entity-keyed sort"),
        ("itemsets3", "candidates from the closed frequent-pair table; "
                      "recount anchored on pair occurrences, broadcast "
                      "candidate side"),
        ("template_match", "im2col scoring inside the decode UDF; census "
                           "rows only, zero pre-agg exchanges"),
        ("convoy", "one rep per (user, bucket) before any join; "
                   "(cell, bucket) equi-join at pitch d, 3x3 emission = "
                   "single-key match (skew.grid_pairs); pair-keyed run "
                   "census"),
        ("ripley_k", "one (cell, mark) candidate join at pitch r_max "
                     "(skew.grid_pairs) serves all radii as conditional "
                     "sums; LEFT join keeps zero-pair marks; ids+coords "
                     "only in exchanges"),
        ("theilsen", "daily roll-up folds the stream map-side before any "
                     "pair forms; per-cell pair fan-out calendar-bounded; "
                     "rank+count share one window partition"),
        ("ks_drift", "per-(group,value) histogram folds raw rows first "
                     "(bounded by groups x value domain); pair table "
                     "broadcasts onto it; one window partition per pair"),
        ("joincount", "marks pre-aggregated to one row per observed cell; "
                      "neighbour probe is pure id arithmetic; single "
                      "(grp, cell) equi-join bounded by 2n pairs"),
        ("variogram", "one candidate join at pitch r_max "
                      "(skew.grid_pairs) serves all lag bins; bin spine "
                      "LEFT join keeps empty lags visible; "
                      "ids+coords+values only in exchanges"),
        ("qa_flags", "bit decode fused into the chunk-enumeration "
                     "projection (no exchange added); single per-image "
                     "map-combined agg; pixels never read"),
        ("emd_drift", "sparse per-image histograms (never pixels) in the "
                      "exchange; B-row reference CDF broadcasts; per-image "
                      "CDF window is exactly B rows"),
        ("simpson", "two chained hash aggs, (cell,type) counts fold "
                    "map-side; nothing wider than the category table "
                    "shuffles"),
        ("gini", "per-(grp,cell) roll-up map-combines first; Lorenz rank "
                 "window sized by the group's CELL count (grid-bounded, "
                 "not event-bounded)"),
        ("kendall", "groups are the parallelism unit; O(n log n) Fenwick "
                    "inversion count per group instead of the O(n^2) pair "
                    "join; loud group-size guard"),
        ("mann_kendall", "daily roll-up folds map-side before any pair; "
                         "per-cell pair join is calendar-bounded; ties fold "
                         "as (cell,y) counts — no window, no Python"),
        ("hits", "pagerank's round shape run once per side; SPARSE rounds "
                 "with ONE final zero-fill join instead of two per round; "
                 "the global normalizer is a single-row agg cross-joined "
                 "back with an explicit broadcast; lineage checkpointed "
                 "every 2 rounds"),
        ("acf", "daily roll-up folds map-side; lag pairing is ONE equi-join "
                "on (cell, day+lag) after a constant-fan-out lag explode; "
                "one hash agg ends it — no window, no Python"),
        ("track_raster", "supercover explode is a pure per-row map "
                         "(geometry-bounded fan-out, no join); ONE distinct "
                         "+ ONE hash agg end it"),
        ("rle_census", "ONE Arrow decode pass emits 4 integers per "
                       "(image,band); run counting is numpy inside the UDF; "
                       "pixels never become rows or cross an exchange"),
        ("emerging_hotspots", "raw stream folds to (epoch,cell) before the "
                              "9-arm halo scatter (grid-bounded); epoch "
                              "totals broadcast; MK pair join epoch-bounded"),
        ("std_ellipse", "ONE map-side-combined hash agg carries six "
                        "integers per group; no window, no join, no Python"),
        ("benford", "one hash agg to (grp,digit); 9-digit spine joins the "
                    "group census broadcast-small; law constants are "
                    "compile-time literals — no libm at query time"),
        ("mwu_drift", "ks_pairs' exact shape: per-(grp,value) histogram "
                      "folds map-side first, pair table broadcasts, one "
                      "window cumsum per pair partition"),
        ("lisa", "gi_hotspots' exact shape: ONE 9-arm halo scatter + hash "
                 "agg, single-row totals broadcast, classification pure "
                 "projection; cells never pair with cells"),
        ("chi2", "one hash agg to contingency cells; margins/spine bounded "
                 "by category cardinalities and broadcast; per-cell integer "
                 "micros summed — order-independent"),
        ("flesch", "pure per-row projection, zero aggregation — regex "
                   "counting is JVM-side codegen; text pruned right after "
                   "counting"),
        ("gyration", "ONE map-side-combined hash agg per user (five "
                     "integers) then pure projection; guard is a second "
                     "bounded agg"),
        ("focal_majority", "focal_median's halo exchange with per-class "
                           "COUNTS — exchange payload <= 4 rows per target "
                           "cell; two chained hash aggs, no window"),
        ("ccf", "per-entity daily roll-up folds map-side; pairing is ONE "
                "equi-join on day+lag; fan-out bounded by the entity "
                "vocabulary squared, never event volume"),
        ("hull_diameter", "all-pairs runs on HULL VERTICES only (h << n); "
                          "per-group equi-join; exact BIGINT d2 + shared "
                          "floor-sqrt"),
        ("dist_transform", "per round ONE 9-arm halo scatter of id rows + "
                           "a MIN hash agg; static occupied set re-joined; "
                           "lineage checkpointed per round"),
        ("harris", "three chained focal scatter-aggregates (gradient, "
                   "structure tensor, NMS) — integer partials combine "
                   "map-side; no join, no window, no Python past decode"),
        ("patch_entropy", "two chained hash aggs (<=16 histogram rows per "
                          "cell in the exchange); log2 via literal-array "
                          "element_at projection, no join, no libm"),
        ("kde", "points fold to (cell, cnt) map-side FIRST; 29-arm literal "
                "kernel scatter is a projection + one more hash agg — "
                "points never scatter, no join"),
        ("label_prop", "per round ONE id-pair equi-join vs the static "
                       "checkpointed edge list + two chained hash aggs; "
                       "encoded-argmax keeps rounds order-independent"),
        ("ssim", "pixels cross Arrow once; six bounded integers per band "
                 "pair are the only exchange payload; SSIM is a pure "
                 "projection (pinned double chain)"),
        ("pca", "64x64 moment fold = double-posexplode projection + ONE "
                "hash agg (4096 partials/partition cross the wire, never "
                "vectors); normalization + power rounds run driver-side on "
                "the bounded dim^2 moment state (exact ints), only the "
                "dim-row vector returns for the projection join"),
        ("hog", "focal-gradient scatter-agg + octant CASE projection + "
                "one hash agg to (cell, bin) — <=9 rows per cell in the "
                "exchange, no atan2, no join"),
        ("textrank", "skip-gram pairs never leave the row (posexplode + "
                     "window arms); exchanges carry (word, int) rows; per "
                     "round one equi-join vs the static edge list"),
        ("mad_outliers", "three chained cell-keyed stages; sorted-list "
                         "state bounded by the calendar; deviations "
                         "re-join id-only; nothing quadratic"),
        ("lbp", "one 9-arm halo scatter + one hash agg with 9 "
                "conditional-MAX slots (one contributor each, map-side "
                "combined) + bit-assembly projection + final (cell, code) "
                "agg"),
        ("dispersion", "two chained hash aggs — points fold to (mark, "
                       "cell) map-side first, one bounded row per mark; "
                       "no join, exchange never carries points"),
        ("adamic_adar", "wedge self-join on shared-neighbor id (bounded "
                        "degree), broadcast degree lookup + literal ln "
                        "table projection, left_anti vs edges; id-only "
                        "exchanges"),
        ("tophat", "two chained complete-window focal folds (MIN then "
                   "MAX, map-side combined) + one integer equi-join back "
                   "for the center value"),
        ("exact_substr", "text crosses Arrow once (positional gram "
                         "hashes); gram-keyed semi-join of id rows; "
                         "island window partitioned per doc — state "
                         "bounded by doc length"),
        ("spearman", "ranks from the VALUE level: map-side-combined "
                     "(grp,value) counts, cumsum window over distinct "
                     "values, equi-join back, one final hash agg — no "
                     "Python, no row-level window"),
        ("hough", "mask cells project 12 literal vote arms (constant "
                  "fan-out) folding map-side into a bounded (theta, "
                  "rho_bin) accumulator; peak lookup is a broadcast "
                  "join of the per-theta argmax"),
        ("modularity", "canonical undirected edge list localCheckpointed "
                       "once; two id-only label joins + map-side degree "
                       "fold; single-row m total broadcasts over the "
                       "bounded per-label frame"),
        ("clustering", "degree-ordered compact-forward triangle join "
                       "(wedge fan-out O(sqrt m) per node); map-side "
                       "degree fold; census is one bounded hash agg "
                       "over <= 12 decile keys"),
        ("voronoi", "bounded seed dim broadcasts; cells x B assignment "
                    "folds map-side into the per-cell encoded argmin; "
                    "census is a second bounded per-seed agg — cells "
                    "never shuffle at full width"),
        ("runs_test", "daily roll-up folds map-side; one cell-keyed "
                      "order-stats agg (calendar-bounded state) + one "
                      "lag window per cell + one final hash agg — no "
                      "window over raw events"),
        ("canny", "gradient + NMS = two chained constant-arm focal "
                  "scatters with conditional-MAX slots; hysteresis = "
                  "K id-only joins against the bounded edge-candidate "
                  "set, localCheckpointed per round"),
        ("lacunarity", "one constant fan-out explode (4 dyadic scales) "
                       "folding map-side into (r, box) masses + one "
                       "bounded per-scale agg — zero joins, census is "
                       "4 rows whatever the raster size"),
        ("obb", "one coarse-cell shuffle for the hulls; all later "
                "joins run on HULL VERTICES only (h <= 64 guarded), "
                "grp-keyed; argmin = two exact aggs, no giant encoded "
                "keys"),
        ("perm_entropy", "daily roll-up folds map-side; two lag windows "
                         "per cell (calendar-bounded state); pattern "
                         "counts combine map-side (<= 6 rows per cell "
                         "in the exchange); literal log2 table, no join"),
        ("cross_k", "one grid-pitch-r_max candidate join with 3x3 "
                    "emission (each geometric pair matches exactly one "
                    "key, skew.grid_pairs); all radii answered as "
                    "conditional sums; id-only integer exchanges, "
                    "hot-cell guard (skew.key_bound)"),
        ("skeleton", "2K chained constant-9-arm focal scatters over the "
                     "SHRINKING mask, map-side-combined 0/1 slots, "
                     "localCheckpointed per iteration; one final "
                     "coarse-cell census agg — no joins, no Python"),
        ("glcm", "one constant 2-arm focal scatter + two chained hash "
                 "aggs; the (cell, i, j) exchange carries <= 64 rows "
                 "per coarse cell regardless of pixel volume — no "
                 "joins, no Python"),
        ("silhouette", "final centroids baked as literals: assignment "
                       "+ a2/b2 is a zero-shuffle JVM projection; the "
                       "census is one map-side-combined agg to k rows"),
        ("euler", "components-minus-holes with ZERO iteration: one "
                  "constant 4-arm focal scatter + one anchor agg + one "
                  "bounded census agg — no connected-components rounds, "
                  "no joins, no Python"),
        ("dow_season", "events fold map-side to (cell, dow) counts "
                       "(<= 7 rows per cell in the exchange) + one "
                       "bounded per-cell agg — no joins, no windows, "
                       "no Python"),
        ("prop_test", "conversions fold map-side to one row per "
                      "segment; the pair frame is a bounded broadcast "
                      "cross-join of that tiny census with itself — "
                      "users never pair with users"),
        ("nearest_edge", "bounded edge dim broadcasts; points x E "
                         "candidates fold map-side into the per-point "
                         "argmin + one id-only tie join — points never "
                         "shuffle at full width"),
        ("kappa", "the change_census union-fold (no raster join) + one "
                  "map-side-combined agg to <= 16 confusion rows; every "
                  "kappa ingredient folds from those 16 rows"),
        ("bilateral", "one constant-9-arm focal scatter into per-offset "
                      "slots + one hash agg; the weighted fold is a "
                      "pure projection over literal arrays — no joins, "
                      "no Python past the decode"),
    ]
    qs = em.queries()
    lines = [
        "# PLANS — physical-plan evidence for the headline operators",
        "",
        f"Captured by tools/dump_plans.py at {SF_DIR} (plan shape is",
        "data-size independent; AQE may re-plan shuffle counts at runtime).",
        "Per-query: the property the plan is built around, the plan-derived",
        "metrics, then the `formatted` explain output.",
        "",
    ]
    for name, why in picks:
        df = qs[name](spark, SF_DIR)
        lines += [
            f"## {name}",
            "",
            f"**Design property:** {why}",
            "",
            f"- broadcast join present: {has_broadcast_join(df)}",
            f"- shuffle exchanges: {shuffle_count(df)}",
        ]
        pf = pushed_filters(df)
        if pf:
            lines.append(f"- pushed filters: `{pf.splitlines()[0][:160]}`")
        lines += ["", "```", plan_string(df, "formatted").strip()[:8000], "```", ""]
        print(f"[plans] {name} done", file=sys.stderr)
    # streaming_dedup: the plan lives inside the streaming query — capture
    # the executed stateful plan the runner recorded
    from aira_spark.streaming import events as ev

    em.q_streaming_dedup(spark, SF_DIR)
    splan = ev.LAST_PLANS.get("sdedup", "(not captured)")
    lines += [
        "## streaming_dedup (executed streaming plan)",
        "",
        "**Design property:** stateful first-seen dedup as "
        "FlatMapGroupsInPandasWithState keyed on the content hash; the state "
        "exchange partitions on text_hash only.",
        "",
        "```",
        splan.strip()[:8000],
        "```",
        "",
    ]
    print("[plans] streaming_dedup done", file=sys.stderr)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
