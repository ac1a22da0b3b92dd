"""Named query catalog: the driver-facing surface of the engine.

Every query registers itself with ``@query(name, oracle)`` (see
``registry.py``) when its domain module is imported below. Domains:

- ``vax``            — reference-parity patterns (country view dedup,
  date cascade, dead-letter, validity filter) over the testdata star
  schema.
- ``relational`` / ``relational_ext`` — joins, aggregations, windows,
  set ops, pivots, sketches, sampling, customer-value analytics.
- ``tpch_gap``       — the remaining TPC-H shapes.
- ``events`` / ``events_ext`` — event-stream analytics (JSON, windows,
  sessions, streaming, attribution, time-series smoothing).
- ``dedup``          — exact, near-duplicate, incremental and
  embedding-space dedup.
- ``entity``         — fuzzy entity matching.
- ``text`` / ``text_ext`` — language id, quality scoring,
  tokenization, fingerprinting, substring dedup, BM25, LM scoring.
- ``similarity``     — embedding top-k / radius / k-NN join search
  (brute force, LSH, PQ, flat and two-level IVF).
- ``clustering``     — k-means and PCA over embeddings.
- ``multimodal``     — binary payloads, typed metadata, and the
  Arrow-batched decode/feature stage.
- ``formats``        — file-format round trips and schema evolution.
- ``graph``          — co-purchase graph analytics.
- ``quality``        — integrity checks, snapshot diffs, drift.
- ``features``       — point-in-time feature joins.
- ``corpus_stats``   — corpus statistics, packing, curation funnel.
- ``training_ext``   — dataset splits, contamination, training prep.

Registration order is domain import order. The external driver's
least-recently-verified rotation is applied by ``__spark_entry__``,
not here (see ``verify_rotation.py``).

Cross-engine determinism conventions (see ``vax.py`` docstring):
lowercase aliases, decimal-exact money aggregation, pinned dates,
explicit tie-breakers.
"""

from incubyte_vaccination_data_pipeline_spark.catalog.registry import (  # noqa: F401
    AS_OF,
    DEPRECATED,
    ORACLES,
    QUERIES,
    query,
)

from incubyte_vaccination_data_pipeline_spark.catalog import (  # noqa: F401
    vax,
    relational,
    relational_ext,
    tpch_gap,
    events,
    events_ext,
    dedup,
    entity,
    text,
    text_ext,
    similarity,
    clustering,
    multimodal,
    formats,
    graph,
    quality,
    features,
    corpus_stats,
    training_ext,
)
