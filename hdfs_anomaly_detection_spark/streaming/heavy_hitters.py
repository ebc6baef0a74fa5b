"""Streaming heavy hitters: Count-Min over micro-batches.

The batch operator (``sketch/cms.py``) is exact because it can re-scan
the input for the verify pass; a stream cannot be re-scanned, so the
streaming variant keeps the standard sketch-plus-candidates semantics
(Cormode & Muthukrishnan 2005 §4):

* Per micro-batch, ONE bounded aggregation builds the batch's d×w
  sketch (O(d·w) driver state, never O(keys)) and merges it into the
  running global sketch — the counter-wise merge algebra
  ``CountMinSketch.merge`` exists for exactly this.
* The batch's distinct keys are estimated against the RUNNING sketch
  (which at that moment counts every prior occurrence of the key);
  keys clearing the threshold enter the candidate table with their
  current global estimate, and existing candidates are refreshed.

Guarantees, stated honestly:

* A key whose true global count is >= threshold IS reported, provided
  it occurs at least once in some batch at-or-after crossing the
  threshold (heavy keys keep arriving by definition — a key that stops
  exactly at the threshold crossing can be missed by at most its final
  batch's contribution).
* Reported counts are CMS ESTIMATES: upper bounds, within
  e/width · N of truth with probability 1 - e^-depth. The batch
  operator's exact-verify pass needs a re-scannable input; run it over
  the landed data when exactness matters.
* False positives are possible (collision overestimates) — the same
  one-sided error as the batch admission filter, just not disposed of
  by an exact count.

Driver state is the d×w counter matrix plus the candidate dict. Every
fold re-qualifies the full candidate set against the merged sketch and
evicts keys below the EFFECTIVE threshold (max of the absolute
``threshold`` and ``ceil(support × rows-seen)``): with a relative
``support`` the bound is |candidates| <= 1/support·(1+ε) at all times
(ε = CMS overestimate fraction), independent of stream length; with
only an absolute threshold, estimates are monotone so nothing is ever
evicted and the set is bounded by the keys that ever clear it.

Use ONE tracker per streaming query (the epoch watermark assumes a
single epoch sequence — two queries' independent counters fed into one
tracker would silently skip the trailing query's epochs), inside
``foreachBatch`` — PASS THE EPOCH ID so replays dedupe::

    shh = StreamingHeavyHitters(key_col="user_id", threshold=1000)
    q = stream.writeStream.foreachBatch(
        lambda df, epoch: shh.update(df, epoch)).start()
    ...
    shh.current()   # {key: estimated_count} at any point

Failure semantics: foreachBatch re-delivers an epoch after a mid-batch
failure; ``update(df, epoch)`` skips epochs it has already folded
(the standard idempotency pattern), so retries never double-count.
State lives in driver memory — a query RESTART starts from zero unless
you checkpoint it yourself: call ``save(path)`` (e.g. at the end of
each update) and construct via ``load(path)`` on restart; snapshot IO
goes through the Hadoop FileSystem API (hdfs/s3a/file — same rule as
the vector-store sidecar) and the state is small: O(d·w) counters plus
the candidate dict.

Reference parity: the reference's running confusion-matrix counters
(``anomaly-detection-service/anomaly_detection_service.py:203-224``)
are the same pattern — bounded driver-side state folded per event —
generalized here to per-key frequency with sketch-bounded memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.sketch.cms import (
    CountMinSketch,
    build_cms,
    cms_estimate,
)
from hdfs_anomaly_detection_spark.session import local_frame

__all__ = ["StreamingHeavyHitters"]


class StreamingHeavyHitters:
    """Cross-batch heavy-hitter tracker (see module docstring)."""

    def __init__(
        self,
        key_col: str,
        threshold: int = 0,
        depth: int = 4,
        width: int = 2048,
        support: float | None = None,
    ) -> None:
        """``threshold`` is an ABSOLUTE count floor; ``support`` is a
        RELATIVE one (fraction of rows seen so far). The effective
        threshold at any moment is ``max(threshold, ceil(support *
        total))`` — at least one of the two must be positive.

        With only an absolute threshold, CMS estimates are monotone
        non-decreasing, so an admitted candidate can never fall back
        below it — the candidate set is append-only and bounded by the
        number of keys that EVER clear the threshold. With ``support``,
        the effective threshold grows with the stream: every fold
        re-qualifies ALL candidates against the merged sketch and
        EVICTS keys whose estimate no longer clears it, so the state
        bound is |candidates| <= 1/support · (1 + CMS overestimate
        fraction) at all times, independent of stream length."""
        if int(threshold) <= 0 and (support is None or support <= 0):
            raise ValueError("need threshold > 0 or support > 0")
        if support is not None and not (0.0 < support <= 1.0):
            raise ValueError(f"support must be in (0, 1], got {support}")
        self.key_col = key_col
        self.threshold = int(threshold)
        self.support = float(support) if support is not None else None
        self.depth = int(depth)
        self.width = int(width)
        self.sketch: CountMinSketch | None = None
        self.candidates: dict = {}
        self.last_epoch: int | None = None
        import threading

        self._state_lock = threading.Lock()  # guards sketch/candidates/
        # last_epoch reads+writes: save/current from a monitoring thread
        # never observe torn state
        self._update_lock = threading.Lock()  # serializes whole folds
        # so accidental concurrent update() calls cannot interleave
        # replay-check / merge / commit. NOTE: this makes misuse safe,
        # not meaningful — ONE tracker per streaming query; the epoch
        # watermark assumes a single epoch sequence, so feeding two
        # queries' independent epoch counters into one tracker would
        # silently skip whichever query's epochs trail the other's
        self._snapshot_lock = threading.Lock()  # serializes save()
        # end-to-end: capture AND swap under one critical section, so
        # racing saves can never commit an older state last

    def update(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        """Fold one micro-batch: merge its sketch, then admit/refresh
        candidates from the batch's distinct keys estimated against the
        merged (global-so-far) sketch. Two bounded passes over the
        PERSISTED batch (one source read) — the distinct-keys pass is
        map-side-combined, and only estimated-heavy keys reach the
        driver. Pass foreachBatch's ``epoch_id`` so a re-delivered
        epoch (mid-batch failure retry) folds exactly once.

        Everything is computed into locals and COMMITTED AT THE END in
        one locked assignment: a Spark failure mid-fold leaves state
        (including ``last_epoch``) untouched, so the epoch's retry
        genuinely re-folds — advancing the watermark first would turn
        at-least-once delivery into at-most-once (dropped data)."""
        with self._update_lock:  # whole-fold serialization: concurrent
            # updates would both pass the replay check, merge into the
            # same pre-fold sketch, and lose one batch's counts
            with self._state_lock:
                if (
                    epoch_id is not None
                    and self.last_epoch is not None
                    and epoch_id <= self.last_epoch
                ):
                    return  # replayed epoch — already folded
                base = self.sketch
            batch_df = batch_df.persist()
            try:
                batch_sk = build_cms(
                    batch_df, self.key_col, depth=self.depth, width=self.width
                )
                merged = (
                    None
                    if batch_sk.total == 0
                    else batch_sk
                    if base is None
                    else base.merge(batch_sk)
                )
                survivors: dict = {}
                if merged is not None:
                    eff = self._effective_threshold(merged.total)
                    # re-qualify batch keys AND every existing candidate
                    # against the merged sketch: refreshes estimates and
                    # (under a relative `support`) EVICTS candidates the
                    # grown effective threshold left behind. Bounded work:
                    # |batch distinct| + |candidates| rows, never O(stream)
                    keys = batch_df.filter(
                        F.col(self.key_col).isNotNull()
                    ).select(self.key_col)
                    with self._state_lock:
                        prior = list(self.candidates)
                    if prior:
                        keys = keys.unionByName(
                            local_frame(
                                batch_df.sparkSession,
                                [(k,) for k in prior],
                                keys.schema,
                            )
                        )
                    survivors = {
                        r[self.key_col]: int(r["__est"])
                        for r in keys.distinct()
                        .withColumn("__est", cms_estimate(merged, self.key_col))
                        .filter(F.col("__est") >= F.lit(eff))
                        .collect()
                    }
            finally:
                batch_df.unpersist()
            with self._state_lock:  # commit: all-or-nothing, never torn
                if merged is not None:
                    self.sketch = merged
                    self.candidates = survivors
                if epoch_id is not None:
                    # max(): an out-of-order epoch must never REGRESS the
                    # watermark and re-open already-folded epochs to replay
                    self.last_epoch = (
                        int(epoch_id)
                        if self.last_epoch is None
                        else max(self.last_epoch, int(epoch_id))
                    )

    def _effective_threshold(self, total: int) -> int:
        """max(absolute threshold, ceil(support × rows-seen)), floor 1."""
        import math

        eff = self.threshold
        if self.support is not None:
            eff = max(eff, math.ceil(self.support * total))
        return max(eff, 1)

    def current(self) -> dict:
        """{key: estimated global count} for every candidate whose
        estimate cleared the effective threshold at the LAST fold
        (folds re-qualify and evict — see ``__init__``). Estimates are
        upper bounds (one-sided CMS error)."""
        with self._state_lock:
            return dict(self.candidates)

    # ------------------------------------------------------- checkpointing

    _JSON_KEY_TYPES = (str, int, float, bool)

    @staticmethod
    def _active_spark():
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("no active SparkSession for snapshot IO")
        return spark

    def save(self, path: str) -> None:
        """Snapshot sketch + candidates + epoch watermark as one JSON
        file via the shared swap-safe writer (``hadoop_io
        .write_small_swap`` — every crash window leaves a readable
        snapshot, and IO goes wherever the data lives: hdfs/s3a/file).
        The state is captured under the lock, so a snapshot taken from
        a monitoring thread mid-fold is never torn (the watermark a
        snapshot carries always matches its counts).

        Candidate keys must be JSON round-trippable (str/int/float/
        bool) — raises ``TypeError`` up front for timestamp/decimal/
        binary key columns rather than failing inside json.dumps (or
        worse, resuming with silently re-typed keys).

        FRESHNESS INVARIANT: a restored snapshot must be at least as
        fresh as the streaming query's own checkpoint. foreachBatch
        only re-delivers epochs the query has NOT committed — if the
        snapshot's ``last_epoch`` trails the query checkpoint, the
        intervening committed epochs are never re-delivered and their
        counts are silently lost. The safe pattern is to call
        ``save()`` inside ``update()`` (after the fold, before
        returning) so every committed epoch has a snapshot at least as
        new; see :meth:`load`."""
        import json

        from hdfs_anomaly_detection_spark.hadoop_io import write_small_swap

        # capture AND write under ONE snapshot critical section: if the
        # capture and the swap were separately locked, a monitoring
        # thread's older capture could win the write race AFTER the
        # stream thread committed a newer fold — regressing the on-disk
        # watermark past epochs the query's own checkpoint will never
        # redeliver. (Lock order: snapshot -> state; update() takes
        # state only, so no deadlock.)
        with self._snapshot_lock:
            with self._state_lock:
                bad = {
                    type(k).__name__
                    for k in self.candidates
                    if not isinstance(k, self._JSON_KEY_TYPES)
                }
                if bad:
                    raise TypeError(
                        f"candidate keys of type {sorted(bad)} do not survive a "
                        "JSON round-trip; cast the key column to string before "
                        "tracking (supported: str/int/float/bool)"
                    )
                state = {
                    "key_col": self.key_col,
                    "threshold": self.threshold,
                    "support": self.support,
                    "depth": self.depth,
                    "width": self.width,
                    "counters": None
                    if self.sketch is None
                    else self.sketch.counters.tolist(),
                    "total": 0 if self.sketch is None else self.sketch.total,
                    "candidates": list(self.candidates.items()),
                    "last_epoch": self.last_epoch,
                }
            write_small_swap(self._active_spark(), path, json.dumps(state))

    @classmethod
    def load(cls, path: str) -> "StreamingHeavyHitters":
        """Restore a :meth:`save` snapshot (tolerates a crash that died
        between the swap's delete and rename — see
        ``hadoop_io.read_small_swapped``).

        Snapshots written before ``support`` existed carry no
        ``support`` and may carry ``threshold <= 0``, which the
        constructor rejects for new trackers. They restore as saved:
        the effective threshold's floor of 1 admits the same keys such
        a tracker admitted (every key seen has an estimate >= 1).

        Only restore a snapshot written by the same cadence that
        commits epochs: if this snapshot's ``last_epoch`` trails the
        restarted query's checkpoint, epochs in between were committed
        but never folded here, and the stream will NOT re-deliver them
        (undercount). Snapshot-per-update (``save()`` at the end of
        ``update()``) makes the invariant hold by construction."""
        import json

        import numpy as np

        from hdfs_anomaly_detection_spark.hadoop_io import read_small_swapped

        state = json.loads(read_small_swapped(cls._active_spark(), path))
        shh = cls(
            state["key_col"],
            max(int(state["threshold"]), 1),
            state["depth"],
            state["width"],
            support=state.get("support"),  # absent in legacy snapshots
        )
        shh.threshold = int(state["threshold"])
        if state["counters"] is not None:
            shh.sketch = CountMinSketch(
                state["depth"],
                state["width"],
                np.asarray(state["counters"], dtype=np.int64),
                state["total"],
            )
        shh.candidates = dict(state["candidates"])
        shh.last_epoch = state["last_epoch"]
        return shh
