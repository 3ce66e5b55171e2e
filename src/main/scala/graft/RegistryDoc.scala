package graft

/** Decade query sets, shared by [[BenchDeep]] (which times each as one
  * family) and RegistryDoc (which documents them), so REGISTRY.md cannot
  * drift from what the bench measures. The 10× sets are timed over
  * synthetic 5k → 16k → 50k points (events: 600k → 6M); the 100× `deep*`
  * subsets over 5k → 50k → 500k (events: 600k → 6M → 60M). */
object BenchSets {
  /** LSH dedup decade, timed over both the v2 and the Zipf corpus. */
  val lshDecade: Seq[String] =
    Seq("q_dedup_minhash_lsh", "q_dedup_minhash_lsh_pruned",
      "q_dedup_minhash_lsh_auto", "q_dedup_near_materialize")
  /** Events/sales decade (lineitem at the harness 6× ratio). */
  val eventsDecade: Seq[String] =
    Seq("q_kpi_category", "q_events_session", "q_join_range_events",
      "q_events_attribution", "q_events_rfm", "q_events_mau",
      "q_events_debounce", "q_events_cohort_ltv")
  /** Embeddings decade (unit vectors with harness statistics). */
  val embedDecade: Seq[String] =
    Seq("q_sim_knn_lsh", "q_sim_knn_lsh_adaptive",
      "q_dedup_embed_cos", "q_dedup_embed_cos_probe", "q_embed_hard_negatives",
      "q_split_semantic_leakage")
  /** Open-vocabulary Zipf text decade. */
  val textZipfDecade: Seq[String] =
    Seq("q_text_pmi", "q_text_batch_buckets", "q_text_zipf",
      "q_dedup_setsim_prefix", "q_text_textrank", "q_text_textrank_capped",
      "q_text_bpe_learn")
  /** Harness-statistics v2 text decade (stopword-bearing vocabulary). */
  val textV2Decade: Seq[String] = Seq("q_text_keyphrase")

  val decadeOf: Map[String, String] =
    (lshDecade.map(_ -> "lsh") ++ eventsDecade.map(_ -> "events") ++
      embedDecade.map(_ -> "embed") ++ textZipfDecade.map(_ -> "text-zipf") ++
      textV2Decade.map(_ -> "text-v2")).toMap

  /** 100× deep decades: the SCALE-DESIGNED flagships only — each family's
    * fixed-parameter siblings (fixed-plane kNN, uncapped TextRank, unpruned
    * materialize) stop at the 50k decade BY DESIGN, because their cost
    * model is the quadratic the adaptive/pruned/capped paths exist to
    * avoid. */
  val deepEmbed: Seq[String] =
    Seq("q_sim_knn_lsh_adaptive", "q_dedup_embed_cos", "q_dedup_embed_cos_probe",
      "q_embed_hard_negatives", "q_split_semantic_leakage")
  val deepLsh: Seq[String] =
    Seq("q_dedup_minhash_lsh", "q_dedup_minhash_lsh_pruned", "q_dedup_minhash_lsh_auto")
  val deepText: Seq[String] =
    Seq("q_text_pmi", "q_dedup_setsim_prefix", "q_text_textrank_capped",
      "q_text_bpe_learn")
  /** Events-family 100× set: the reference-derived flagship KPI and
    * sessionization. */
  val deepEvents: Seq[String] = Seq("q_kpi_category", "q_events_session")
  require(deepEmbed.forall(embedDecade.contains) && deepLsh.forall(lshDecade.contains)
    && deepText.forall(textZipfDecade.contains)
    && deepEvents.forall(eventsDecade.contains),
    "deep decade sets must be subsets of their 10x decade sets")
}

/** Generates REGISTRY.md from [[Registry.modules]]:
  * one row per registered query — oracle status, bench/decade membership —
  * grouped under its API entry point with the module's plan-shape
  * one-liner. Run `runMain graft.RegistryDoc` to refresh;
  * RegistryDocSpec fails if the committed file or this description map
  * drifts from `Registry.modules`. */
object RegistryDoc {

  /** One plan-shape line per module. The sync spec requires an entry for
    * every module in Registry.modules — adding a module without one fails
    * CI, which is what keeps this map honest. */
  val moduleNotes: Map[String, String] = Map(
    "graft.operators.Scans" -> "CSV/parquet/JSON/ORC scans with explicit schemas, multi-file folders, describe()-style summaries, and the single-pass robust-statistics family (MAD, PSI, KS, Mann-Whitney, Levene, ANOVA, chi2, quantiles, histograms) — pushdown and pruning verified by spec; stats collapse to slice-bounded aggregates.",
    "graft.operators.Validation" -> "Null audits, SQL-string predicates, distinct projections, FK anti-joins, dup detection, empty-input guards, privacy ladder (k-anon/l-div/t-closeness) — one Expand pass for the ladder; anti-joins broadcast the key side.",
    "graft.operators.Kpis" -> "The reference's category/order KPI jobs: broadcast star joins, multi-agg with exact distincts (and HLL approx twins), date-derived grouping.",
    "graft.operators.Tpch" -> "TPC-H-shaped relational queries over the harness tables: broadcast dims, AQE-owned fact shuffles, partial aggregation.",
    "graft.operators.TpchSubqueries" -> "Correlated/decorrelated subquery forms (scalar, EXISTS, IN) re-expressed as joins Catalyst can plan without per-row re-execution.",
    "graft.operators.Joins" -> "Join-shape coverage: broadcast/shuffle-hash/sort-merge, range and interval joins via bucketed pre-partitioning, snowflake chains.",
    "graft.operators.Scd" -> "Slowly-changing-dimension type-2 snapshots: window-ranked effective ranges, point-in-time joins on (key, valid-from/to).",
    "graft.operators.Cdc" -> "Changelog apply via packed max-aggregate champions (seq|op|value in one long) — order-independent latest-wins with tombstones.",
    "graft.operators.Skew" -> "Skew handling: salting, AQE skew-join splits, per-key salted aggregation with exact re-merge.",
    "graft.operators.AsOf" -> "As-of and nearest-match joins: union-tag + window carry-forward (no per-row range scans), event-partitioned.",
    "graft.operators.Analytics" -> "Basket affinity/lift, pair and triple mining with support pruning and md5-capped baskets — per-order bounded fanout, never corpus all-pairs.",
    "graft.operators.Events" -> "Sessionization, funnels, retention, attribution, RFM (broadcast histogram cutpoints), MAU, debounce, cohort LTV, windows/hops/sessions — all user-partitioned windows, day-bounded outputs.",
    "graft.operators.Dedup" -> "Exact/span/cluster/incremental/contamination dedup: hash-partitioned groupBy, packed argmin champions, digest-keyed joins; MinHash-LSH band buckets with DF pruning (auto-gate at 150k docs).",
    "graft.operators.Graph" -> "Connected components, PageRank, label propagation, shortest paths — localCheckpoint-truncated iterative joins, degree-bounded messages.",
    "graft.operators.Sampling" -> "Hash/stratified/temperature/sqrt-mix/reservoir/A-ES weighted/Neyman/curriculum/balanced/token-budget sampling and leakage-free splits — md5-gate thresholds broadcast, no global sorts.",
    "graft.operators.Similarity" -> "ANN family: brute cosine baseline, sign-LSH buckets, multiprobe, adaptive radius, IVF; SemDeDup and embedding near-dup — bucket/cluster-scoped candidate joins only.",
    "graft.operators.Pq" -> "Product quantization: trained codebooks held in broadcast expressions (plan size K-independent), SQ8 scalar quantization, ADC scoring.",
    "graft.operators.EmbedClassify" -> "Nearest-centroid classification, hard-negative mining via shared sign-LSH buckets, semantic leakage probes.",
    "graft.operators.KMeans" -> "Lloyd k-means over a persisted vector frame: one job per round, centroid-sized collects, deterministic init.",
    "graft.operators.Pca" -> "Gram-matrix PCA and whitening under an enforced BIGINT overflow budget (assert_true in both engines), 64-wide explode for the Gram accumulate.",
    "graft.operators.TextAnalysis" -> "30+ text ops: tokens, BPE learn/encode, quality gates, langid, PII redaction, TF-IDF, BM25 (+query-table form), LM scoring, Zipf/Heaps, PMI/LLR, inverted index — term-filter-first, vocab-staged joins, quantized-ln micro-units.",
    "graft.operators.Retrieval" -> "RRF fusion (single and query-table), MMR diversification (driver compat + executor-side queries-table form), recall@k and NDCG vs brute ground truth — rank-list-sized joins after candidate generation.",
    "graft.operators.TrainClassifier" -> "In-engine GD classifier: order-independent integer micro-unit gradients, weight trajectory hash-matched to an unrolled-CTE oracle.",
    "graft.operators.ModelEval" -> "Exact rank-sum AUC, PR-AUC, confusion/PRF1, calibration — on the distinct quantized-score histogram (bounded at 1e6+1 rows by construction).",
    "graft.operators.MarkovAttribution" -> "Markov removal-effect attribution: corpus reduced once to a transition model, 40-step driver-sized value iteration, micro-quantized per term.",
    "graft.operators.FeatureEng" -> "Winsorized means, LOO target encoding, feature hashing, scaling — single-pass keyed aggregates joined back broadcast.",
    "graft.operators.Concurrency" -> "Daily peak concurrency via two-level decomposed running counts (per-day windows + carry), sessionized interval sweep.",
    "graft.operators.Seasonal" -> "Additive seasonal decomposition, session abandonment, interpurchase gaps — day-series-bounded post-aggregate work.",
    "graft.operators.Recommend" -> "Item-item basket cosine CF with per-item top-k, and off-policy evaluation (IPS/SNIPS + doubly-robust with an exact micro-unit reward model) over a deterministic uniform logging policy — distinct-pair shuffles with bounded per-order fanout; OPE adds only keyed aggregates and broadcast joins.",
    "graft.operators.Engagement" -> "Retention cohorts (incl. by acquisition channel), streaks, stickiness — two user-keyed aggregates + a (cohort x week)-bounded matrix.",
    "graft.operators.CorpusStats" -> "Heaps-law growth fit, corpus overlap, datacard stats — one corpus pass with conditional first-occurrence columns.",
    "graft.operators.Packing" -> "Sequence packing/chunking/batch assembly — hash-byte sharding bounds window partitions.",
    "graft.operators.Sketches" -> "KMV (+ set ops, temporal rollup), CMS, HLL, Misra-Gries — partial-sketch persistence, weekly-from-daily merge proven ≡ direct.",
    "graft.operators.Layout" -> "Z-order and Hilbert-curve layout audits with file-skipping probes — bucket envelope stats, both curves oracle-checked; the writer halves (clustered writes + measured footer pruning) live in sources/ZOrder + sources/Hilbert with scan-metric specs.",
    "graft.operators.Multimodal" -> "Real ImageIO/WAV-PCM16/GIF decoders over binary columns, aHash near-dup, frame extraction — narrow per-row decode, dedup reuses exact machinery.",
    "graft.operators.Mining" -> "TextRank keyword graphs (per-doc damped PageRank over co-occurrence edges), RAKE adjacency, PMI/LLR collocations, JL projection, drift detection — vocab-partitioned stats, persisted token projections.",
    "graft.operators.SetSim" -> "Lossless exact set-similarity join (PPJoin prefix filter): rarest-first token order, doc-partitioned prefix windows, integer size filter before verify.",
    "graft.operators.Curation" -> "Dataset diffing (48-byte signature join), readability, DP release counts (deterministic 60-bit md5 Laplace), RAKE keyphrases (persisted narrow token chain).",
    "graft.operators.Trend" -> "Trend/changepoint/Theil-Sen statistics — day-series-bounded after one keyed aggregate.",
    "graft.operators.Inference" -> "Experimentation: A/B z-tests, CUPED, DiD, SRM, power analysis, ANOVA, Levene — exact-cents pooled moments, single-row assemblies.",
    "graft.operators.Profiler" -> "Column profiling: type inference, null/distinct/extremes per column — one pass, Expand-based multi-column stats.",
    "graft.plans.TopK" -> "Native bounded-heap per-group top-k physical operator (registered via extensions) — no global sort, heap size k per group.",
    "graft.sources.Bucketing" -> "Bucketed table writes and co-located join audits — shuffle-free joins on bucket-aligned keys.",
    "graft.sources.Dpp" -> "Dynamic partition pruning probes — dim-filter-driven fact-scan pruning asserted in plan and rows.",
    "graft.sources.Evolution" -> "Schema evolution/mergeSchema reads, nested-column pruning audits.",
    "graft.sources.SyntheticDocs" -> "Synthetic corpus generators (fixed-vocab v2 + open-vocab Zipf) powering the text/LSH scale decades.")

  def render(): String = {
    val sb = new StringBuilder
    val total = Registry.all.size
    val oracled = Registry.all.count(_.oracle.isDefined)
    sb ++= "# Operator registry\n\n"
    sb ++= "GENERATED by `runMain graft.RegistryDoc` from `Registry.modules` — do not edit by hand.\n"
    sb ++= "`RegistryDocSpec` fails the build if this file drifts from the registry.\n\n"
    sb ++= s"**$total registered queries** ($oracled DuckDB-oracle-checked, " +
      s"${total - oracled} rows-only with bounding specs — the EntrySpec whitelist). " +
      "`bench` = headline bench set; `decade` = synthetic scale-decade membership " +
      "(lsh, events, embed, text-zipf, text-v2).\n"
    Registry.modules.foreach { case (module, qs) =>
      sb ++= s"\n## `$module`\n\n"
      sb ++= moduleNotes.getOrElse(module,
        sys.error(s"RegistryDoc.moduleNotes missing entry for $module"))
      sb ++= "\n\n| query | oracle | bench | decade |\n|---|---|---|---|\n"
      qs.foreach { q =>
        val oracle = if (q.oracle.isDefined) "oracle" else "rows-only"
        val bench = if (q.bench) "bench" else ""
        val decade = BenchSets.decadeOf.getOrElse(q.name, "")
        sb ++= s"| ${q.name} | $oracle | $bench | $decade |\n"
      }
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("REGISTRY.md")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.print(render()) finally w.close()
    println(s"wrote $out (${Registry.all.size} queries, ${Registry.modules.size} modules)")
  }
}
