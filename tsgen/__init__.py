"""tsgen — PySpark-native time-series analytics engine.

Re-expresses the computations of the reference project
(B1h14/Time-Series-Data-Generation, a PyTorch time-series generation
pipeline) as idiomatic Spark DataFrame operators, plus large-scale
data-pipeline extensions (dedup, similarity search, text analysis).

Layout (see SURVEY.md §7):
    session.py     SparkSession builder
    worker_daemon.py  Python-worker daemon that keeps Spark's own zip
                   directories cached across tasks
    expr.py        engine-agnostic SQL scalar expressions (shared with the
                   DuckDB oracle — determinism by construction)
    generators.py  synthetic series sources (reference utils/data_generators.py)
    normalize.py   per-series z-normalization
    schedules.py   diffusion noise-schedule tables
    diffusion.py   forward/reverse diffusion algebra
    spectral.py    FFT pandas-UDF kernels
    decompose.py   trend / seasonality / residual extraction
    masking.py     forecast / imputation masks
    metrics.py     loss reductions
    analytics.py   window / as-of / sessionization over the events table
    dedup.py       exact + approximate dedup over documents
    text.py        text-analysis operators over documents
    similarity.py  embedding similarity search
    multimodal.py  binary-column plumbing (decode stubbed)
    streaming.py   Structured Streaming twins of batch ops
    queries.py     driver-contract registry (queries + oracle SQL)
"""

__version__ = "0.1.0"
