"""dp_data_quality_spark — a from-scratch, PySpark-native quality-filter
engine with the validation contract of DISHDevEx/dp-data-quality.

The reference (at /root/reference) composes per-column driver-side loops
over PySpark; this engine re-expresses the same contract — 17 validation
rules, a row-granular quality report, PII detection — as a single wide
vectorized ``select`` over a DataFrame, plus a langid + perplexity +
heuristic + scrub quality-filter pipeline for multi-turn transcript
tables at cluster scale.

Public modules
--------------
- ``rules.contract``     — the 17-rule validation contract as Column factories
- ``functions.scrub``    — PII / toxicity scrubbing (JVM regexp_replace chain)
- ``functions.langid``   — broadcast char-n-gram language ID model
- ``functions.perplexity`` — broadcast byte-n-gram LM perplexity, and the
  fused scorer (langid + perplexity + word stats in one Arrow pandas UDF)
- ``functions.heuristics`` — vectorized quality heuristics (pure Column exprs)
- ``ops.dedup``          — exact / MinHash-LSH / SimHash / n-gram-Jaccard
  dedup + benchmark decontamination
- ``ops.incremental``    — cross-run dedup vs a persisted MinHash index
- ``ops.graph``          — duplicate-graph connected components +
  canonical-survivor resolution
- ``ops.similarity``     — brute-force + LSH/IVF-bucketed ANN over embeddings
- ``ops.clustering``     — Lloyd's k-means (DataFrame-only)
- ``ops.profiling``      — per-column profiling, exact + sketch quantiles,
  exact + Misra-Gries heavy hitters, histograms
- ``ops.sampling``       — deterministic splits + exact-k stratified samples
- ``ops.textstats``      — codegen text statistics / quality scoring
- ``ops.timeseries``     — as-of join (backward/forward)
- ``ops.multimodal``     — binary media columns + Arrow feature plumbing
- ``streaming``          — stream filter/dedup/interval-join + stateful
  conversation summaries with processing- or event-time session GC
- ``pipeline``           — end-to-end quality filter with lineage + resume
- ``synth``              — deterministic distributed transcript synthesis
"""

__version__ = "0.1.0"
