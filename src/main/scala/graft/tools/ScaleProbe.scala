package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10x scale probe: measures how the most expensive catalog entries
  * actually grow when the data does, instead of asserting sub-quadratic
  * behavior from plan shape alone.
  *
  * Generates an sf1-equivalent slice (default 10x sf0.1) by replicating
  * each input table with replica-disjoint keys, times each probe entry
  * once at the base scale and once at the replicated scale in the same
  * warmed JVM, and writes a ratio table to BENCH_SCALE.json. A plan
  * that is linear in its input (LSH bands, prefix-filter candidates,
  * star-contraction CC, per-round PageRank exchanges) should land near
  * the replication factor; anything well past it is either output
  * growth (recorded) or a real scale bug.
  *
  * Replication is semantics-preserving for the probed families:
  *   - keys are offset per replica by `max(key)+1`, so joins stay
  *     intra-replica (the graph becomes `factor` disjoint copies, the
  *     ANN corpus `factor` disjoint id ranges);
  *   - document TEXT is token-prefixed per replica (`r3quick r3fox ...`,
  *     replica 0 pristine), so every shingle/gram differs across
  *     replicas: intra-replica near-dup structure is preserved exactly
  *     and NO cross-replica near-dups are introduced — pair output and
  *     candidate space scale by `factor`, not `factor^2`, which is what
  *     "same workload, 10x the corpus" means for a dedup pipeline.
  *
  * Entries NOT probed, and why (the artifact records this — a scale
  * claim with a silent cap is not a claim):
  *   - q235 array-overlap join: its tag domain is a fixed 24-value set,
  *     so the OUTPUT is quadratic in input by construction; the entry
  *     exists to lock the explode+equi-join plan (candidate-linear),
  *     not to model tag spaces that scale with data.
  *   - q191/q219/q237 streaming joins: dominated by fixed micro-batch +
  *     state-store overhead at any SF in this window; state is
  *     watermark-bounded by design (StreamingSpec covers semantics).
  *   - m33 CTAS: already measured at the reference's own full scale
  *     (2.8M rows) every bench run.
  */
object ScaleProbe {

  /** The probe set: every dedup/CC/ANN/graph family member in the
    * bench's top cost tier, plus q234's new fan-out shape (the round-6
    * `weak` — included to show the replacement's distinct-agg scales),
    * plus the round-8 corpus-sized families: substring-span dedup
    * (q239/q240 — window-hash volume is O(corpus tokens)), BPE training
    * (q241 — the corpus-sized word count; merge rounds are vocab-sized
    * but the vocab itself grows with replica-disjoint words), and the
    * WordPiece pointer-doubling encode (q244 — gram/position tables
    * grow with the word table). */
  private val probeEntries = Seq(
    "q117_pagerank_copurchase",
    "q67_prefix_filter_jaccard",
    "q22_minhash_lsh",
    "q53_dedup_resolve",
    "q70_dedup_resolve_star",
    "q153_dup_cluster_sizes",
    "q156_dedup_cascade",
    "q171_dedup_keep_best",
    "q27_ann_brute_topk",
    "q234_window_distinct",
    "q239_duplicate_spans",
    "q240_remove_dup_spans",
    "q241_bpe_train",
    "q244_wordpiece_encode",
    // round-8 batch 2: DSIR explodes unigrams+bigrams twice (model pass
    // + scoring pass — the documented recompute-over-materialize trade),
    // and LPA runs 3 rounds of corpus-keyed join+argmax over the
    // replica-disjoint co-occurrence graph
    "q253_dsir_importance",
    "q255_label_propagation",
    // winnowing explodes every k-gram and runs a bounded ROWS window
    // over the corpus — the gram stream grows linearly with data
    "q262_winnow_fingerprints",
    // round-9: full-corpus Lloyd's — per round one argmin scan with the
    // centroid matrix inlined + a k-row per-dim-sum aggregate; growth
    // should track the scan (the replicated embeddings corpus)
    "q268_kmeans_lloyd",
    // round-10: IVF-PQ — corpus-side cost is the residual encode
    // (corpus × m subspace rows through keyed joins + a windowed
    // argmin); query/table sides are fixed-size broadcasts, so growth
    // should track the replicated embeddings corpus
    "q276_ivfpq_recall",
    // round-10: Louvain — per round three keyed shuffles over the
    // replica-disjoint co-occurrence graph (same cost class as the
    // probed q255 LPA, plus the Σtot community aggregate)
    "q278_louvain_communities",
    // round-11: Leiden = the probed Louvain shape twice (phase-1 rounds
    // + the intra-edge-restricted refinement rounds) plus one two-sided
    // keyed join building the intra subset — growth should track q278
    "q283_leiden_refine",
    // round-11: theta set sketches — one distinct-aggregate + global
    // top-k per dataset over the replica-disjoint shingle space; set
    // ops are k-row; growth should track the shingle scan
    "q285_theta_set_sketches",
    // round-11: JPEG encode+decode — embarrassingly parallel
    // mapPartitions per asset, no shuffle; growth should track rows
    "q286_jpeg_decode",
    // round-12: 4:2:0 color JPEG — q286's mapPartitions class with ~6x
    // the per-asset block work (4 luma + 2 chroma per MCU + RGB
    // conversion); growth should track rows like q286
    "q296_jpeg_420_decode",
    // round-12: full PNG decode — inflate + unfilter per asset, the
    // same shuffle-free mapPartitions class; growth should track rows
    "q302_png_decode",
    // round-12: WAV PCM decode — per-asset sample loop, same class
    "q303_wav_decode",
    // round-12: AVI frame extraction — per-asset movi walk + per-frame
    // sums, the same shuffle-free mapPartitions class (BMP q304 shares
    // it and is strictly simpler — one probe covers the family's
    // new members alongside q286/q296/q302)
    "q305_avi_frame_extract",
    // round-13: progressive JPEG — the restructured multi-scan decoder
    // (coefficient buffers + EOBn runs + refinement bits) on the same
    // shuffle-free mapPartitions class; a direct probe shows the new
    // scan machinery stays row-linear like the baseline members
    "q307_jpeg_progressive_decode",
    // round-13: the restated exact deciles — the whole point of the
    // Ranks rewrite is scale, so the probe measures it: bucketed local
    // ranks + broadcast bases should track the per-customer aggregate's
    // growth with no single-partition window to bottleneck
    "q151_revenue_deciles",
    // round-14: VP8L — brand-new entropy-decode machinery (canonical
    // prefix groups + four inverse transforms) on the shuffle-free
    // mapPartitions class; a direct probe shows it stays row-linear
    "q325_webp_lossless_decode",
    // round-14: WARC-over-gzip ingestion — per-asset member walk +
    // Inflater + record parse, the text-corpus analog of the codec
    // probes; growth should track rows
    "q330_warc_gz_ingest",
    // round-14: GIF — new LZW machinery (variable-width codes,
    // sub-block reassembly, deinterlace) on the same class
    "q331_gif_decode",
    // round-14: FLAC — new Rice/fixed-predictor machinery with per-frame
    // CRC validation on the same class
    "q336_flac_decode",
    // round-14: the mixed-container ingest funnel — the operator a text
    // pipeline starts with; sniff dispatch + three walkers per asset
    "q340_mixed_corpus_funnel")

  /** Entries probed at a SECOND, larger factor (default 30×): the two
    * highest 10× ratios (q117 4.69, q234 2.82), where one factor is
    * least conclusive about sub-linear vs super-linear onset. A third
    * point decides: ratio2/ratio ≈ factor2/factor means linear-in-data
    * (the 10× ratio was fixed-overhead amortization, not onset);
    * ratio2/ratio well past factor2/factor means super-linear growth.
    *
    * Memory sizing: the probe keeps `shuffle.partitions` at the
    * session's 32 while the data grows, so per-task state grows with
    * the factor — at 30× the PageRank contribution aggregate needs
    * more execution memory per thread than the default 8g heap's
    * 8g·0.6/32 ≈ 150 MB (observed UNABLE_TO_ACQUIRE_MEMORY). Run with
    * `SPARK_DRIVER_MEM=48g` (≈1.5 GB/core — ordinary production
    * sizing); on a real cluster the equivalent knob is scaling
    * partition count with data, which the fixed-partition timing
    * deliberately does NOT do so the timed plans stay identical
    * across factors.
    *
    * To SEPARATE that memory-pressure effect from genuine algorithmic
    * onset, each second-factor entry is timed TWICE: once at the fixed
    * 32 partitions (identical plans, growing per-task state) and once
    * with `shuffle.partitions` scaled ∝ the factor (cpus × factor2 —
    * per-task state held ~constant, AQE coalescing toward its byte
    * target exactly as a production cluster would). If the fixed run's
    * excess over linear disappears in the scaled run, the gap was
    * memory pressure, not algorithmic growth; both numbers land in the
    * artifact as `ratio<f>` / `ratio<f>_sp`. */
  private val probeEntries2 = Seq(
    "q117_pagerank_copurchase",
    "q234_window_distinct",
    // round-9: the tokenizer family — the newest corpus-sized scale
    // claim without a third point. q244 was the highest non-q117 10x
    // ratio of the committed window (3.03); q241 rides along as the
    // family's training half (its own 10x ratio is mid-pack — the
    // point is a 30x read on BOTH halves of the BPE/WordPiece story,
    // whose token/gram tables grow linearly with the corpus).
    "q241_bpe_train",
    "q244_wordpiece_encode")

  private val excluded = Seq(
    "q235_array_overlap_join" ->
      "output quadratic by construction (fixed 24-value tag domain); plan is candidate-linear",
    "q191_stream_left_outer/q219_stream_full_outer/q237_stream_right_outer" ->
      "fixed micro-batch+state-store overhead dominates at any SF; state watermark-bounded",
    "m33_ctas_2800000_rows" ->
      "already benched at the reference's full 2.8M-row scale every run",
    "q254_hll_registers/q257_hll_by_source/q259_streaming_hll" ->
      "single scan + map-side max-combine into <=2^p groups; no shuffle or state grows with the corpus — the scan cost is what q253's probed explode already measures",
    "q256_weighted_sample/q258_mmr_diversify" ->
      "TakeOrderedAndProject shapes: per-partition top-k, k-row driver merge; no corpus shuffle at any SF",
    "q260_ndcg_eval" ->
      "work scales with the fixed 10-query eval set and its relevance pairs, not the corpus",
    "q261_fuzzy_join" ->
      "reads part, which the replica set deliberately omits; cost is name-domain-sized (64 distinct names) — the corpus-sized gram-explode shape is probed via q262",
    "q263_skyline/q267_skyline_3d" ->
      "replicas duplicate the exact coordinate set, so a probe would measure duplicate collapse in the first aggregate, not frontier growth; both shapes are scan-bound (q263 aggregate+window, q267 distinct + grid-bounded cell aggregate + band-only refinement)",
    "q264_cluster_by_reducer/q265_dynamic_gap_sessions" ->
      "read events, which the replica set omits; per-key script fold and session state are both watermark/partition-bounded, independent of corpus width",
    "q266_kcenter_coreset" ->
      "k scan+TakeOrdered rounds over a persisted projection — same no-corpus-shuffle class as q256/q258",
    "q271_streaming_kmeans_route" ->
      "training is q268's probed shape; the stream side is a stateless per-row projection dominated by fixed micro-batch overhead (same class as the excluded stream entries)",
    "q272_mg_by_source" ->
      "per-source 64-counter sketches: state is sources x k regardless of corpus; the token-explode scan cost is what q253's probed explode already measures",
    "q273_multi_insert" ->
      "two filtered scans + parquet writes of the routed tiers; write volume equals input rows at any SF — the scan/write shape the CTAS baseline already measures at full scale",
    "q274_kll_quantiles" ->
      "reads events, which the replica set omits; sketch state is k*levels regardless of corpus and the one-pass scan + map-side-partial shape is the same class as the excluded HLL entries (the benchFn path never sorts the corpus)",
    "q275_dynamic_partition_insert" ->
      "partitioned parquet writes routed by the data; write volume equals input rows at any SF — q273's class, measured at full scale by the CTAS/export baselines",
    "q277_streaming_kll" ->
      "per-batch sketch merge over a k*levels-row store; fixed micro-batch overhead dominates at any SF — the excluded streaming-store class (q259), with the batch KLL scan shape covered by q274's exclusion rationale",
    "q279_kll_by_source" ->
      "per-source sketches: state is sources x k*levels regardless of corpus (the q272/q257 grouped-sketch class); the one-pass scan shape is what the probed corpus scans already measure",
    "q280_modularity" ->
      "dominated by the q278 Louvain labeling it scores, which IS probed; the modularity epilogue adds two keyed label joins with community-sized output",
    "q281_louvain_two_level" ->
      "level-1 rounds are q278's probed shape on the identical graph; the contraction and level-2 rounds run on the SHRUNKEN super-graph (~758 communities at sf0.1) — each further level costs less than the probed level, not more",
    "q282_nn_descent_recall" ->
      "initBuckets is a data-proportional knob (operator contract: ~n/64) fixed at 16 in the entry for oracle determinism, so a 10x corpus grows each init bucket 10x and the init all-pairs volume ~10x^2 — a knob artifact, not operator growth; the knob-scaled probe q282_nn_descent_knob_scaled times the operator as production would run it (initBuckets prop n), and the per-round candidate volume n*(2k)^2 is corpus-linear by construction",
    "q284_unigram_lm_encode" ->
      "the replica token prefix lengthens words past the entry's squarings=3 position-lattice bound (<= 8 chars), silently changing the measured workload; the knob-scaled probe q284_unigram_squarings4 times the operator with squarings=4 (<= 16 chars) at BOTH scales so the workloads match — EM rounds are distinct-words-sized, the corpus-sized piece is the shared word-frequency scan (q241's probed shape)",
    "q287_hilbert_layout" ->
      "a layout REWRITE: write volume equals input rows at any SF (q273/q275's class, measured at full scale by the CTAS baseline); the curve key is one codegen'd expression per row riding the scan",
    "q288_graph_ann_search" ->
      "dominated by rebuilding the q282 graph, whose scale behavior IS probed (q282_nn_descent_knob_scaled); the search rounds themselves are |queries|*beam-row joins + per-query windows — independent of corpus size beyond keyed vector lookups by construction",
    "q290_ann_index_serve/q292_ann_index_health" ->
      "a probe replica dir gets a FRESH index store (dirs are corpus-tagged by design), so the entry would measure the one-time q282-class build — the knob artifact q282_nn_descent_knob_scaled already probes — not the serving/audit it exists to time; serving is |queries|*beam keyed joins and the audit is O(hops) keyed frontier joins (the probed q117/q255 BFS class) over the stored k*n-row graph",
    "q291_ann_index_insert" ->
      "same fresh-store effect: the base-graph build dominates any probe (q282's knob-scaled probe covers it); the insert path itself is one beam search over |batch|*beam-row tables plus a per-node top-k window over k*n rows — linear keyed volume by construction, locked shape-wise by Round12Spec's no-cartesian plan assertion",
    "q293_theta_by_source" ->
      "per-source KMV samples: state is sources x k regardless of corpus (the q272/q257/q279 grouped-sketch class); the shingle-scan cost is what the probed q285 already measures on the identical explode",
    "q294_streaming_theta" ->
      "per-batch KMV merge over a <= k-row store; fixed micro-batch overhead dominates at any SF — the excluded streaming-store class (q259/q277), with the batch sketch shape probed via q285",
    "q295_unigram_soft_em" ->
      "q284's exclusion verbatim: the replica token prefix lengthens words past the squarings=3 lattice bound, silently changing the workload (q284_unigram_squarings4 is the matched-workload probe of the shared DP); the soft additions — two path-count recurrences and the posterior join — are distinct-words-sized rounds, corpus-independent like every EM stage",
    "q297_source_overlap_matrix" ->
      "per-source samples + pairwise set ops on <= k rows per source and a |sources|-row pair frame (the q272/q293 grouped-sketch class); the shingle-scan cost is what the probed q285 measures on the identical explode",
    "q298_streaming_graph_ann" ->
      "a probe replica dir gets a FRESH index store, so the entry would measure the q282-class build (q290/q292's rationale); the per-batch serving work is |queries|*beam keyed joins — corpus-independent beyond keyed vector lookups — under fixed micro-batch overhead (the excluded streaming class)",
    "q299_ann_filtered_search" ->
      "q290's fresh-store rationale; the filtered-search increment over plain serving is one keyed semi-join against the predicate id set plus a <= beam-row window per query — both corpus-independent by construction",
    "q300_ann_index_delete" ->
      "q290's fresh-store rationale; the delete itself is two keyed semi-joins over the k*n edge table + one count + one left join — linear keyed volume, the same class as the probed dedup restrictions",
    "q303_wav_decode/q304_bmp_decode/q306_wav_resample" ->
      "per-asset payload loops in the shuffle-free mapPartitions class the probed q286/q296/q302/q305 codec entries time directly — growth tracks rows by construction, and these are strictly simpler per-asset work than the probed members",
    "q301_ann_index_repair" ->
      "q290's fresh-store rationale; the repair is one degree aggregate + a |queue|*beam search over the degraded keyed closure + one per-node window — the q291 insert shape with the queue as the batch, linear keyed volume by construction",
    "q308_avi_mjpeg_frames/q317_avi_mjpeg_color/q309_png_palette_rgba" ->
      "per-asset payload loops in the shuffle-free mapPartitions codec class the probed q286/q296/q302/q305/q307 members time directly — the MJPEG walk is q305's chunk walk plus the probed JPEG decode per frame, and the palette/RGBA unfilter is q302's loop at a different bpp",
    "q310_wav_resample_fir/q321_wav_resample_fir3" ->
      "per-asset 7-tap integer convolution in the q303/q306 excluded class — strictly less work per byte than the probed codec members' entropy decode",
    "q311_container_census" ->
      "one O(header-bytes) sniff per asset + a 7-row aggregate; scan-bound by construction (the q273-class single-pass shape, without even the write)",
    "q312_streaming_index_cdc" ->
      "q290's fresh-store rationale (the base-graph build dominates any probe; q282's knob-scaled probe covers it) + the excluded streaming-store class (fixed micro-batch overhead); the per-batch work is the probed/locked delete+repair+insert shapes — keyed semi-joins and |batch|*beam searches, linear keyed volume",
    "q313_index_maintenance_report" ->
      "dominated by the same delete+repair+insert composition as q312 (fresh-store rationale); the report epilogue is three bounded aggregates + the O(hops) keyed BFS of the q292 class",
    "q314_sharded_ann_serve/q316_streaming_sharded_ann" ->
      "q290's fresh-store rationale per cell (four q282-class builds dominate any probe); serving is |queries|*beam keyed joins over partition-PRUNED shards — per-query cost is nprobe cells' subgraphs regardless of corpus width, which is the operator's scale claim and is plan-locked (PlanSpec PartitionFilters); the streaming twin adds only the excluded fixed micro-batch overhead",
    "q315_png_interlaced/q318_png_grayscale/q319_jpeg_422_decode/q320_png_16bit" ->
      "per-asset inflate+unfilter / entropy-decode work in the shuffle-free mapPartitions codec class the probed q302/q307/q296 members time directly — Adam7 reorders the same bytes, grayscale is the same filters at bpp 1-2, and 4:2:2 is q296's decode with a different chroma axis",
    "q322_sharded_index_cdc" ->
      "q312's rationale per cell: a probe replica dir gets FRESH cell stores, so the entry would measure the four q282-class seed builds (covered by q282's knob-scaled probe), not the per-batch maintenance it times; the batch compute is ONE cell-keyed plan over only the touched cells' stores (round 15 — Spark jobs per batch no longer grow with the touched-cell count), per-batch cost proportional to the batch's cell footprint by construction, with untouched and already-committed cells never opened (path-scoped reads)",
    "q323_wav_resample_rational" ->
      "per-asset integer polyphase convolution in the q310/q321 excluded class — bounded taps per output frame (half-width max(L,M) on the upsampled grid), strictly row-linear like the decimating FIRs",
    "q324_mp4_track_walk" ->
      "one O(header-bytes) box walk per asset + fixed-width rows out — q311's census class, scan-bound by construction, no payload ever decoded",
    "q326_layered_ann_serve" ->
      "q290's fresh-store rationale twice over: a probe replica dir rebuilds BOTH the level-0 graph (q282's knob-scaled probe covers it) and the layer stack (~n/3 extra build by the geometric level sizes); the descent itself is three beam-sized seeded searches over layers holding ~n/4^l nodes — each stage the probed q288-class keyed-join shape",
    "q327_shard_growth_report" ->
      "reads the q314 artifact, so a probe replica dir pays the four q282-class cell builds (q314's rationale); the report itself is two aggregates over the assignment and the k*n edge table plus a broadcast 1-row total — the bounded-aggregate class every probed scan already measures",
    "q328_codec_coverage_audit" ->
      "per-asset decode attempts in the shuffle-free mapPartitions codec class — the audit runs exactly the decoders the probed members (q286/q296/q302/q305/q307/q325/q331) time directly, plus a fixed-width aggregate",
    "q329_shard_rebalance" ->
      "a rebalance run is dominated by the fresh per-cell NN-Descent seeds (cloned from the once-per-JVM immutable seed, whose build is q282-class and knob-probe-covered) plus the changed cells' rebuilds; the decision inputs are nCells swap-time footprint-manifest reads (driver file reads, zero jobs) and the reassignment is one keyed ivfAssign pass over only the split cells' members",
    "q332_g711_decode" ->
      "per-byte table-free integer expansion — strictly less work per byte than any probed codec member (the q303/q310 excluded class)",
    "q333_tar_ingest" ->
      "header-walk + token split per member — strictly simpler per byte than the probed q330 (same token stats WITHOUT the Inflater); the 512-block walk is q311/q324's O(header) class",
    "q334_adpcm_decode" ->
      "per-nibble constant-work state chain — less work per byte than any probed entropy decoder; asset-local state, so parallelism is by asset (the q303/q332 excluded class)",
    "q335_shard_maintenance_window" ->
      "q322's rationale (a probe replica dir needs its own seed build — the clone discipline only amortizes within one corpus) plus the rebalance decision inputs being nCells footprint-manifest reads (zero jobs); any fired rebalance is q329's excluded build class, and the CDC drain is the probed/locked cell-keyed batch plan",
    "q337_zip_ingest" ->
      "per-member Inflater + token split — the q330 probed gzip-inflate class with a directory walk instead of member headers; strictly the same work per byte",
    "q338_mp3_frame_census/q339_ogg_page_census" ->
      "O(header-bytes) walks per asset (frame headers / page headers + CRC over page bytes) — q311/q324's census class, scan-bound by construction, no payload decoded",
    "q341_html_text_extract/q342_url_canonical_dedup" ->
      "zero-shuffle scan-stage codegen'd expression chains (regexp/replace/sort_array) — the probed corpus scans already measure the scan; q342's epilogue is one keyed aggregate of the probed groupBy class",
    "q343_wet_pipeline" ->
      "the probed q330 gzip/WARC walk composed with q341's excluded scan-stage regex chain — both halves' scale behavior is carried by those entries; the composition adds no new shape (zero shuffle end to end, PlanSpec-locked)",
    "q344_layered_index_cdc" ->
      "q312's fresh-store rationale for the whole stack: a probe replica dir pays the layered seed build — the q282-class level-0 build plus ~n/3 extra layer volume, both covered by q282's knob-scaled probe — not the per-batch maintenance it times; the batch work is the probed/locked keyed tombstones plus beam-sized seeded searches over layers holding ~n/4^l nodes (each stage the probed q288-class keyed-join shape), under the excluded fixed micro-batch overhead",
    "q345_sharded_layered_serve" ->
      "reads the q314 sharded artifact plus the per-cell layer stacks, so a probe replica dir pays four q282-class level-0 cell builds and twelve (cell, layer) subgraph builds before serving a single query; the serving increment over the probed/locked q314 shape is three beam-sized (q_id, cell)-keyed descent stages over layers holding ~|cell|/4^l nodes — per-query cost stays nprobe cells' layer stacks regardless of corpus width, with layer reads partition-pruned (PlanSpec/Round15Spec-locked)",
    "q346_flac_stereo_lpc_decode" ->
      "per-sample constant work: Rice unary/remainder reads plus an order-2 integer dot product per sample and a constant-time inter-channel inversion — strictly the probed q336 FLAC class with one extra multiply-accumulate per sample; asset-local state, parallel by asset",
    "q347_webp_color_cache_decode" ->
      "per-pixel constant work: one prefix-code walk plus a multiplicative-hash slot read/insert — strictly LESS work per pixel than the probed q325 transform classes (no transform inversion at all); the q303 partition-preserving codec class",
    "q348_mp4_sample_table_census" ->
      "O(moov-bytes) header walk per asset (stts/stco tables are tens of entries) — q311/q324's census class, scan-bound by construction, no payload decoded",
    "q349_sharded_layered_cdc" ->
      "q322's and q344's rationales composed: a probe replica dir pays four per-cell layered seed builds (level-0 + two layer subgraphs each — all q282-class, knob-probe-covered), not the per-batch maintenance it times; the batch compute is ONE cell-keyed plan over only the touched cells' stacks (keyed tombstones, grouped queue depths, shared descents with short-stack pass-through, one partitioned stage write) — per-batch cost proportional to the batch's cell footprint times the probed/locked layered shapes, with untouched and committed cells never opened",
    "q350_sharded_layered_growth" ->
      "q327's rationale over the layered store: a probe replica dir pays the q349-class per-cell stack seed builds before reporting; the report itself is manifest file reads for counts/shares (zero jobs) plus three grouped aggregates over path-scoped reads of the cells' graph/levels/layer parts — the bounded-aggregate class every probed scan already measures",
    "q351_sharded_layered_rebalance" ->
      "the catalog ENTRY is excluded (its timed body would be dominated by the fresh q282-class seed-clone discipline at a probe replica dir), but the operation itself is now MEASURED: the bespoke q351_rebalance_knob_scaled probe row times the clone + manifest-read decisions + affected-cells-only staged stack rebuilds + swaps at 10x with nCells knob-scaled (4*factor) and the share bands scaled to match — the rationale upgraded to a reading, as round 13 did for NN-Descent",
    "q352_sharded_layered_maintenance" ->
      "q335's and q349's rationales composed: the CDC drain is q349's probed/locked cell-keyed batch plan, the window GATE is nCells manifest file reads (zero Spark jobs), and a fired rebalance is exactly the path q351_rebalance_knob_scaled now measures at 10x — the window adds nothing but the gate to that reading",
    "q353_streaming_sharded_layered_ann" ->
      "q345's rationale under the excluded fixed micro-batch overhead: a probe replica dir pays four q282-class level-0 cell builds and twelve (cell, layer) subgraph builds before the first batch; per batch the work is the probed/locked q345 descent + keyed shard search with the per-cell entry metadata pinned once per stream — per-query cost stays nprobe cells' stacks regardless of corpus width (partition-pruned, spec-locked)",
    "q354_vp8l_2d_distances" ->
      "per-pixel constant work: one prefix-code walk plus an O(1) plane-code table lookup and a raster copy — strictly the probed q325/q347 VP8L class (the 2D resolution replaces the direct-distance subtraction with one array index); the q303 partition-preserving codec class",
    "q355_flac_residual_extras" ->
      "per-sample constant work: the probed q336 FLAC class with a constant-time partition-boundary check and, per subframe, one wasted-bits shift — escape partitions read FEWER bits per residual than Rice; asset-local state, parallel by asset",
    "q356_mp3_vbr_census" ->
      "O(header-bytes) walk per asset — q338's census class with a 34-byte CRC-16 per protected frame and one fixed-offset Xing read per asset; stride re-derivation per frame is the same constant header arithmetic the CBR walk does, no payload decoded",
    "q357_mp4_edit_census" ->
      "O(moov-bytes) header walk per asset (ctts/elst tables are tens of entries, reduced by the same overflow-checked run arithmetic as stts) — q348's census class verbatim, scan-bound by construction, no payload decoded",
    "q358_live_sharded_serve" ->
      "q316's probed keyed-serve shape plus, per batch, nCells swap-pointer file resolutions and an eager snapshot of the PROBED cells' (graph, vecs) pairs — path-scoped reads bounded by the probed-cell footprint, not the corpus (Round17Spec locks unprobed cells never opened); the verified entry additionally pays two q322-class CDC merges, which are q322's already-probed per-batch shape",
    "q359_live_sharded_layered_serve" ->
      "q353's rationale against the LIVE store: per batch nCells manifest file reads (zero jobs — the entry manifests exist precisely to keep descent seeding off the data path), a path-scoped pinned read of the probed cells' stacks, and the probed/locked q345 descent + keyed search; the verified entry's CDC merge is q349's already-probed per-batch shape",
    "q360_ogg_id_census" ->
      "O(header-bytes) walk per asset: q339's page/CRC census class plus one fixed-offset 19-30 byte parse of packet 0 per stream — no audio decode, asset-local, partition-preserving",
    "q361_jpeg_drop_reasons" ->
      "per-asset one baseline decode attempt (the probed q286 class) plus an O(marker-bytes) classification walk that reads only segment headers — asset-local, partition-preserving, the q328 audit class",
    "q362_warc_chunked_http" ->
      "q343's probed WET class with a linear single-pass chunk reassembly per body (each byte copied once; chunk-size lines are O(records·chunks) header bytes) — asset-local mapPartitions, zero shuffle",
    "q363_mp3_layer_census" ->
      "O(header-bytes) walk per asset — q337/q338's census class with a per-layer table lookup and the same constant per-frame stride arithmetic (Layer I's slot multiply is one shift); no payload decoded, asset-local, partition-preserving")

  /** Per-table key columns, each mapped to its key DOMAIN. The stride
    * for a domain is computed as max+1 over EVERY column in that domain
    * across tables, so a foreign key and its referenced key shift by
    * the same amount and replica i's orders keep pointing at replica
    * i's customers even when (as in standard TPC-H) some customers
    * never place an order and the per-table maxima differ. `part` is
    * not replicated at all — no probe entry reads it, and a future
    * entry joining lineitem→part would crash on the missing table
    * rather than silently measure broken FKs. */
  private val keyCols: Map[String, Seq[(String, String)]] = Map(
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"),
    "lineitem" -> Seq("l_orderkey" -> "order", "l_partkey" -> "part",
      "l_suppkey" -> "supp"),
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "orders" -> Seq("o_orderkey" -> "order", "o_custkey" -> "cust"))

  private[graft] def replicate(
      spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    val tables = keyCols.map { case (name, keys) =>
      (name, keys, graft.core.Engine.table(spark, baseDir, name))
    }
    // one stride per key domain (not per column): max over every
    // column sharing the domain
    val stride: Map[String, Long] = tables
      .flatMap { case (name, keys, df) =>
        keys.map { case (k, dom) =>
          // cast → works for INT or BIGINT keys; require → an empty
          // table fails as a named probe-setup error, not an NPE
          val m = df.agg(max(col(k).cast("long"))).head()
          require(!m.isNullAt(0),
            s"scale probe: table '$name' is empty — cannot derive a stride for key '$k'")
          dom -> (m.getLong(0) + 1L)
        }
      }
      .groupBy(_._1).map { case (dom, ms) => dom -> ms.map(_._2).max }
    for ((name, keys, base) <- tables) {
      val replicas = (0 until factor).map { i =>
        val shifted = keys.foldLeft(base) { case (df, (k, dom)) =>
          df.withColumn(k, col(k) + lit(stride(dom) * i))
        }
        if (name == "documents" && i > 0)
          // per-replica token prefix: disjoint gram space across
          // replicas, identical near-dup structure within each. Must
          // tokenize EXACTLY as the dedup pipeline does — trim first,
          // and leave empty tokens (from double spaces) empty — or
          // replicas >0 gain phantom tokens and their intra-replica
          // near-dup structure diverges from replica 0's.
          shifted.withColumn("text",
            array_join(
              transform(split(trim(col("text")), " "),
                x => when(x === "", x).otherwise(concat(lit(s"r$i"), x))),
              " "))
        else shifted
      }
      replicas.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
  }

  /** Knob-scaled probes: operators whose CATALOG entries fix a
    * data-proportional knob for oracle determinism are additionally
    * timed here with the knob scaled the way production would scale it
    * — the probe fn receives the replication factor (1 at base). Their
    * fixed-knob entries are `excluded` with per-entry rationale. */
  private val customProbes: Seq[(String, (SparkSession, String, Int) => DataFrame)] = Seq(
    // NN-Descent with initBuckets ∝ n (contract: ~n/64): init stays
    // bucket-size-bounded, rounds are n·(2k)² keyed volume — linear
    ("q282_nn_descent_knob_scaled", (s, dir, f) =>
      graft.operators.Similarity.nnDescent(
        graft.core.Engine.table(s, dir, "embeddings"), "vec_id", "embedding",
        k = 15, rounds = 4, initBuckets = 16 * f, checkpointEvery = 1)),
    // unigram-LM with squarings=4 so base and replica-prefixed words
    // (<= 16 chars) run the SAME lattice workload at both scales
    ("q284_unigram_squarings4", (s, dir, _) =>
      graft.operators.TextAnalysis.unigramEncodeStats(
        graft.core.Engine.table(s, dir, "documents"), "doc_id", "text",
        maxGram = 4, seedTopK = 60, vocabTarget = 40, emRounds = 2,
        squarings = 4)))

  private def timeOne(spark: SparkSession, name: String, dir: String): Double = {
    val q = graft.Queries.all.toMap.apply(name)
    timeFn(spark, name, dir,
      (s, d) => q.benchFn.getOrElse(q.fn)(s, d))
  }

  private def timeFn(
      spark: SparkSession, name: String, dir: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[scale] $name FAILED at $dir: ${e.getMessage}")
        -1.0
    } finally graft.Bench.teardown(spark)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val cpus = graft.core.Engine.defaultCpus
    val spark = graft.core.Engine.session(extraConf = Map(
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_scale_wh").toString))
    spark.sparkContext.setLogLevel("ERROR")

    val marker = new java.io.File(outDir, s"_GENERATED_x$factor")
    if (!marker.exists()) {
      System.err.println(s"[scale] generating ${factor}x of $baseDir at $outDir")
      replicate(spark, baseDir, outDir, factor)
      marker.getParentFile.mkdirs()
      // drop markers from other factors: the tables were just
      // overwritten at THIS factor, and a stale _GENERATED_x<other>
      // would let a later run at that factor skip generation and time
      // the wrong corpus while labeling it t_x<other>
      Option(marker.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("_GENERATED_x") && f.getName != marker.getName)
        .foreach(_.delete())
      marker.createNewFile()
    }

    // warmup (untimed): session + codegen + the probe families' shapes
    for (n <- Seq("q27_ann_brute_topk", "q22_minhash_lsh")) timeOne(spark, n, baseDir)

    // min-of-N per (entry, scale), same rationale as Bench's two
    // passes: a single ~1-5 s window is exposed to whatever the
    // sandbox is doing right then, and a ratio of two one-shot numbers
    // compounds the noise of both
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
    def best(n: String, dir: String): Double = {
      val ts = (1 to runs).map(_ => timeOne(spark, n, dir)).filter(_ >= 0)
      if (ts.isEmpty) -1.0 else ts.min
    }
    // second factor (default 30x) for the least-conclusive entries —
    // generated lazily, only if at least one probe2 entry is selected
    val factor2 = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR2", "30").toInt
    val outDir2 = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR2", "/tmp/graft_sf_f2")
    lazy val dir2Ready: Boolean = {
      val m2 = new java.io.File(outDir2, s"_GENERATED_x$factor2")
      if (!m2.exists()) {
        System.err.println(s"[scale] generating ${factor2}x of $baseDir at $outDir2")
        replicate(spark, baseDir, outDir2, factor2)
        m2.getParentFile.mkdirs()
        Option(m2.getParentFile.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("_GENERATED_x") && f.getName != m2.getName)
          .foreach(_.delete())
        m2.createNewFile()
      }
      true
    }

    def ratioOf(num: Double, den: Double): Double =
      if (den > 0 && num > 0) BigDecimal(num / den)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      else -1.0
    val rows = probeEntries.map { n =>
      val tb = best(n, baseDir)
      val ts = best(n, outDir)
      val ratio = ratioOf(ts, tb)
      System.err.println(f"[scale] $n%-28s base=$tb%8.2fs x$factor=$ts%8.2fs ratio=$ratio")
      val second =
        if (probeEntries2.contains(n) && dir2Ready) {
          val ts2 = best(n, outDir2)
          val ratio2 = ratioOf(ts2, tb)
          // partition-scaled twin: per-task state held ~constant, the
          // production response to 30x data (see scaladoc above).
          // try/finally: an exception inside the scaled run must not
          // leak cpus*factor2 partitions into every later probe entry
          // (the recorded ratios would silently skew)
          spark.conf.set("spark.sql.shuffle.partitions",
            (cpus.toInt * factor2).toString)
          val ts2p =
            try best(n, outDir2)
            finally spark.conf.set("spark.sql.shuffle.partitions", cpus)
          val ratio2p = ratioOf(ts2p, tb)
          System.err.println(
            f"[scale] $n%-28s x$factor2=$ts2%8.2fs ratio2=$ratio2 scaled-parts=$ts2p%8.2fs ratio2_sp=$ratio2p")
          s""","t_x$factor2":${f"$ts2%.3f"},"ratio$factor2":$ratio2""" +
            s""","t_x${factor2}_sp":${f"$ts2p%.3f"},"ratio${factor2}_sp":$ratio2p"""
        } else ""
      s""""$n":{"t_base":${f"$tb%.3f"},"t_x$factor":${f"$ts%.3f"},"ratio":$ratio$second}"""
    }
    val customRows = customProbes.map { case (n, fn) =>
      def bestC(dir: String, f: Int): Double = {
        val ts = (1 to runs)
          .map(_ => timeFn(spark, n, dir, (s, d) => fn(s, d, f)))
          .filter(_ >= 0)
        if (ts.isEmpty) -1.0 else ts.min
      }
      val tb = bestC(baseDir, 1)
      val ts = bestC(outDir, factor)
      val ratio = ratioOf(ts, tb)
      System.err.println(
        f"[scale] $n%-28s base=$tb%8.2fs x$factor=$ts%8.2fs ratio=$ratio (knob-scaled)")
      s""""$n":{"t_base":${f"$tb%.3f"},"t_x$factor":${f"$ts%.3f"},"ratio":$ratio,"knob_scaled":true}"""
    }
    // Round-17: a REAL 10x measurement of the sharded-layered
    // rebalance's decision + stage path (q351/q352 previously carried
    // restating rationales only). The seed store is built UNTIMED once
    // per scale — it is exactly the q282-class build the exclusions
    // cover — with the cell count knob-scaled with the corpus
    // (nCells = 4·factor: production's response to 10x data, holding
    // per-cell membership ~constant) and the share bands scaled by
    // 1/nCells so the band semantics match across scales (at factor 1
    // they are q351's own 255000/220000). The timed window is what the
    // operator actually costs in steady state: the per-run clone (a
    // linear file copy — the entry's own isolation discipline), the
    // manifest-read decisions, the affected cells' staged complete
    // stack rebuilds, and the swaps. The affected-cell count is logged
    // with each reading: the workload is decisions + per-affected-cell
    // rebuilds, so the ratio tracks how many cells drift out of band
    // at scale — the production cost driver itself.
    val rebalanceRow: String = {
      def copyTree(from: String, to: String): Unit = {
        import scala.jdk.CollectionConverters._
        val src = java.nio.file.Paths.get(from)
        java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
          val rel = src.relativize(p).toString
          if (rel != "_SEEDED") {
            val dst = java.nio.file.Paths.get(to).resolve(rel)
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.createDirectories(dst)
            else java.nio.file.Files.copy(p, dst,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
      def seedFor(dir: String, f: Int): (String, DataFrame) = {
        val emb = graft.core.Engine.table(spark, dir, "embeddings")
          .filter(col("vec_id") % 10 =!= 9)
        val cents = graft.operators.Similarity.ivfCentroids(
          graft.core.Engine.table(spark, dir, "embeddings"),
          "vec_id", "embedding", 0L until (4L * f)).localCheckpoint()
        val assigned = graft.operators.Similarity.ivfAssign(
          emb, "vec_id", "embedding", cents).localCheckpoint()
        val seed = s"/tmp/graft_scale_slay_f${f}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(seed, "_SEEDED"))) {
          graft.streaming.ShardedLayeredCdc.initShardedLayeredStore(spark,
            seed, assigned, "vec_id", "embedding", nCells = 4 * f, cap = 2,
            graphK = 10, graphRounds = 3, layerK = 5, layerRounds = 2,
            initBuckets = 16)
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(seed, "_SEEDED"))
        }
        (seed, cents)
      }
      def timedRun(dir: String, f: Int): Double = {
        val (seed, cents) = seedFor(dir, f) // untimed: built once per scale
        val t0 = System.nanoTime()
        try {
          val dst = java.nio.file.Files
            .createTempDirectory("graft_scale_reb_").toString
          copyTree(seed, dst)
          val (report, _) = graft.streaming.ShardedLayeredCdc
            .rebalanceShardedLayeredStore(spark, dst, cents, "vec_id",
              "embedding", cap = 2, k = 10, graphRounds = 3, layerK = 5,
              layerRounds = 2, initBuckets = 16,
              splitPpm = 1020000L / (4L * f), mergePpm = 880000L / (4L * f),
              rebalanceId = 9L)
          val acts = report.groupBy(col("action")).count().collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
            .mkString(",")
          val t = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[scale] q351_rebalance_knob_scaled f=$f t=$t%.2fs actions: $acts")
          t
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[scale] q351_rebalance_knob_scaled FAILED at $dir: ${e.getMessage}")
            -1.0
        } finally graft.Bench.teardown(spark)
      }
      val tb = (1 to runs).map(_ => timedRun(baseDir, 1))
        .filter(_ >= 0).minOption.getOrElse(-1.0)
      val ts = (1 to runs).map(_ => timedRun(outDir, factor))
        .filter(_ >= 0).minOption.getOrElse(-1.0)
      val ratio = ratioOf(ts, tb)
      System.err.println(
        f"[scale] q351_rebalance_knob_scaled base=$tb%8.2fs x$factor=$ts%8.2fs ratio=$ratio (knob-scaled cells)")
      s""""q351_rebalance_knob_scaled":{"t_base":${f"$tb%.3f"},"t_x$factor":${f"$ts%.3f"},"ratio":$ratio,"knob_scaled":true}"""
    }
    val allRows = rows ++ customRows ++ Seq(rebalanceRow)
    val excl = excluded.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val json =
      s"""{"factor":$factor,"base":"$baseDir","runs":$runs,"entries":${allRows.mkString("{", ",", "}")},"excluded":{$excl}}"""
    val path = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/BENCH_SCALE.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
