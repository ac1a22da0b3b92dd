"""One keyed store for per-corpus shared query state, with one release.

Many catalog queries reuse per-corpus intermediates: table read
handles, the MinHash candidate pairs, the exact ANN top-k twin, the
IVF quantizer and inverted files, checkpointed graph and daily
aggregate frames, streaming flush-sentinel dirs. Every such site calls
:func:`shared` with a name; the store keys the value by
``(applicationId, sf_dir, name)`` and builds it once.

Bound: at most :data:`MAX_CORPORA` corpora ``(app, sf_dir)`` at once.
Adding one more releases the least recently used corpus WHOLE, so a
long-lived session that loops over many corpora (the portability fuzz
runs the dedup family over per-seed temp dirs; a notebook may loop
over datasets) holds bounded state. Whole-corpus eviction is also what
makes :func:`release` safe: entries of one corpus may derive from each
other's checkpoints, and they always go together.

:func:`release` is the only function that frees shared state. It is
used on eviction, by :func:`release_shared_state`, and by
``pipeline.run_pipeline`` for its dead-letter parse prefix.

Release contract: after a corpus is released, a frame handed out
earlier for it is invalid, like a closed file — its persisted blocks,
checkpoint blocks and checkpoint files are gone. Ask :func:`shared`
again for a fresh one.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

#: corpora the store holds at once; one more evicts the least recently
#: used corpus with every entry it has
MAX_CORPORA = 8


def release(value: Any) -> None:
    """Free everything ``value`` pins: walk tuples and lists; for a
    DataFrame unpersist it, release the bases listed in its
    ``_ivdp_persisted_bases`` and free the RDD of every ``LogicalRDD``
    leaf of its analyzed plan (persisted or local-checkpoint blocks,
    and a reliable checkpoint's files, deleted now rather than at GC);
    call ``cleanup()`` on values that have one (temp dirs). Any other
    value is dropped as it is."""
    if isinstance(value, (tuple, list)):
        for v in value:
            release(v)
    elif isinstance(value, DataFrame):
        try:
            _release_frame(value)
        except Exception:
            pass  # session already stopped; nothing to release
        for base in getattr(value, "_ivdp_persisted_bases", ()):
            release(base)
    elif hasattr(value, "cleanup"):
        value.cleanup()


def _release_frame(df: DataFrame) -> None:
    df.unpersist()
    # Dataset.unpersist is a no-op on a checkpointed frame: its data is
    # the RDD under the LogicalRDD leaf, so free that RDD directly
    jsc = df.sparkSession.sparkContext._jsc.sc()
    jvm = df.sparkSession.sparkContext._jvm
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            continue
        rdd = leaf.rdd()
        rdd.unpersist(False)
        if rdd.getCheckpointFile().isDefined():
            jvm.org.apache.spark.rdd.ReliableRDDCheckpointData.cleanCheckpoint(
                jsc, rdd.id()
            )


class BoundedCache:
    """The store: entries per corpus ``(app, sf_dir)``, corpora in LRU
    order. Its class name, :meth:`get_or_build` and ``__len__`` are
    seams the benchmark (``perfbench/``) reads: it wraps
    ``get_or_build`` to time shared builds and sums ``len()`` over
    :data:`_ALL_CACHES`, so every miss must go through ``get_or_build``."""

    def __init__(self) -> None:
        self._corpora: OrderedDict[tuple, dict[str, Any]] = OrderedDict()

    def get_or_build(self, key: tuple, build: Callable[[], Any]) -> Any:
        app, sf_dir, name = key
        corpus = self._corpora.get((app, sf_dir))
        if corpus is not None and name in corpus:
            self._corpora.move_to_end((app, sf_dir))
            return corpus[name]
        value = build()
        # the build may itself have added entries for this corpus
        self._corpora.setdefault((app, sf_dir), {})[name] = value
        self._corpora.move_to_end((app, sf_dir))
        while len(self._corpora) > MAX_CORPORA:
            _, evicted = self._corpora.popitem(last=False)
            release(list(evicted.values()))
        return value

    def release_corpora(self, sf_dir: str | None = None) -> int:
        n = 0
        for corpus in [c for c in self._corpora if sf_dir in (None, c[1])]:
            entries = self._corpora.pop(corpus)
            release(list(entries.values()))
            n += len(entries)
        return n

    def __len__(self) -> int:
        return sum(len(c) for c in self._corpora.values())


_STORE = BoundedCache()

#: the benchmark's view of the store (see :class:`BoundedCache`)
_ALL_CACHES: list[BoundedCache] = [_STORE]


def shared(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """The value named ``name`` for corpus ``sf_dir`` in this Spark
    application, built by ``build()`` on first use. ``name`` is unique
    per site; table read handles use the bare table name."""
    return _STORE.get_or_build(
        (spark.sparkContext.applicationId, sf_dir, name), build
    )


def release_shared_state(sf_dir: str | None = None) -> int:
    """Release every corpus, or only ``sf_dir`` (matched exactly, so a
    sibling ``<sf_dir>_10x`` scratch stays), with :func:`release`.
    Eviction bounds the corpus count, but a corpus the session is done
    with should free its storage now. Returns the number of entries
    dropped."""
    return _STORE.release_corpora(sf_dir)
