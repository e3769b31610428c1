"""Measured shuffle-byte counters for superstep plans.

Round 3 argued the broadcast+dst layout's "zero per-superstep
exchange" from plan shape (.explain showing no Exchange inside the
loop). This module turns that into a *measured* number: Spark's
AppStatusStore (the store behind the UI/REST API, populated by
AppStatusListener whether or not the UI is enabled) exposes per-stage
``shuffleReadBytes`` / ``shuffleWriteBytes``; summing them over the
stages submitted since the previous snapshot gives the actual bytes the
superstep exchanged. Iterative operators accept
``superstep_metrics=[]`` and append one
``{"shuffle_read", "shuffle_write"}`` delta dict per checking action.

Caveats (documented, acceptable for the bench harnesses this feeds):
- a delta counts every stage submitted in its window, so it attributes
  concurrent foreign jobs to the superstep — benches run one job at a
  time;
- only stages newer than the previous snapshot count, so the store's
  eviction of old stages past ``spark.ui.retainedStages`` (default
  1000) cannot move a delta (summing running totals did: a cleanup
  inside the window read as negative or foreign bytes in long
  sessions); the listener bus is drained before each read, so the
  stages of a job that has returned are in the store;
- a broken probe must NOT masquerade as a measured zero: the zero-
  exchange claim is exactly what these numbers exist to prove, so JVM
  API drift returns ``None`` (→ ``shuffle_unmeasured: true`` in the
  delta dict) instead of a fake ``(0, 0)``.
"""

from __future__ import annotations


def stage_shuffle_bytes(spark) -> list[tuple[int, int, int]] | None:
    """``(stage_id, shuffle_read_bytes, shuffle_write_bytes)`` of every
    stage attempt the status store retains, read once the listener bus
    has delivered its queued events, or ``None`` when the probe itself
    fails (JVM API drift) — never a fabricated zero. Pure driver-side
    JVM calls — no Spark job."""
    try:
        sc = spark._jsparkSession.sparkContext()
        try:
            sc.listenerBus().waitUntilEmpty()
        except Exception:  # pragma: no cover - a queue past its timeout
            pass  # read what the store holds
        store = sc.statusStore()
        empty = spark._jvm.java.util.ArrayList()  # empty filter = all
        # Scala default args surface as stageList$default$N accessors
        # (signature: statuses, details, withSummaries, quantiles,
        # taskStatus — Spark 4.x)
        seq = store.stageList(
            empty,
            *[getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)],
        )
        it = seq.iterator()
        out = []
        while it.hasNext():
            s = it.next()
            out.append((int(s.stageId()), int(s.shuffleReadBytes()), int(s.shuffleWriteBytes())))
        return out
    except Exception:  # pragma: no cover - JVM API drift safety net
        return None


def _newest(stages) -> int | None:
    return None if stages is None else max((s[0] for s in stages), default=-1)


class ShuffleProbe:
    """Delta-snapshot helper: ``probe.delta()`` returns the bytes
    shuffled by the stages submitted since the previous call (or
    construction). When either snapshot failed, the delta carries
    ``shuffle_read/write = None`` plus ``shuffle_unmeasured: True`` so
    downstream benches cannot mistake broken instrumentation for a
    measured zero-shuffle superstep."""

    def __init__(self, spark):
        self._spark = spark
        self._last = _newest(stage_shuffle_bytes(spark))

    def delta(self) -> dict:
        stages = stage_shuffle_bytes(self._spark)
        last, self._last = self._last, _newest(stages)
        if stages is None or last is None:
            return {
                "shuffle_read": None,
                "shuffle_write": None,
                "shuffle_unmeasured": True,
            }
        new = [s for s in stages if s[0] > last]
        return {
            "shuffle_read": sum(s[1] for s in new),
            "shuffle_write": sum(s[2] for s in new),
        }
