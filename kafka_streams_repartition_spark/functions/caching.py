"""Session memos: one bounded, identity-keyed memo for every shared
artifact a query builds once and other queries reuse.

A :class:`MemoSlots` is declared once per artifact at module level with
a unique name, the function that builds the artifact, the names of the
module constants that shape what the build computes, and a capacity.
``memo.get(key_frame, *args)`` returns the value stored under
``(id(key_frame), *current values of those constants)`` and calls
``build(*args)`` on a miss.  The constant values are read from
``build.__globals__`` at every lookup, so a runtime override of a
shaping constant (monkeypatched, or derived from the environment) can
never serve a value built under the old one.  Which names a build reads
is checked, not trusted: ``tests/test_invariants.py`` walks every
registered build, its nested code and its same-module callees, and
fails when a public module constant it reads is missing from
``consts``.

Stored values come in three kinds, and eviction treats each the way it
was stored:

- a bare DataFrame is ``.cache()``d on the miss and unpersisted when
  evicted;
- a tuple of DataFrames holds ``localCheckpoint`` frames the build made
  (the MMR pool/pair frames), released when evicted;
- anything else is a driver value (collected rows, a count) and is
  just dropped.

Capacity bounds storage: resident keys are strongly referenced (an
entry can never vanish while it is current, so a downstream plan keeps
its ``InMemoryRelation``, and an ``id`` can never be reused by another
frame while its entry lives), and the least-recently-used entry is
released at replacement time.  Neither weak keys nor a finalizer would
do: a ``WeakKeyDictionary`` drops the entry but leaves its blocks
pinned for the rest of the session, and unpersisting when the key is
collected breaks consumers whose derived plan outlives the key object
(``pretrain_pipeline`` builds its grams over a transient gated frame).

Hits and misses are counted per memo name; :func:`memo_counters` sums
them for the process and :func:`memo_traffic` reports them per name.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# release failures are logged ONCE per process (the release runs per CC
# round in a loop — a broken private surface would otherwise spam), but
# counted unconditionally so tests can assert the failure is visible
_release_failures = 0

# every MemoSlots by name: one declaration per artifact per process
_REGISTRY: dict[str, MemoSlots] = {}


def memo_counters() -> tuple[int, int]:
    """(hits, misses) summed over every registered memo."""
    traffic = memo_traffic().values()
    return sum(h for h, _ in traffic), sum(m for _, m in traffic)


def memo_traffic() -> dict[str, tuple[int, int]]:
    """(hits, misses) of each registered memo, by name."""
    return {name: (m.hits, m.misses) for name, m in _REGISTRY.items()}


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks of a frame returned by
    ``localCheckpoint()`` — deterministic storage release for loop
    frames a later round has superseded, instead of waiting on driver
    GC (the iterative CC kernel's round ladder peaked one retained
    frame PER ROUND at the 100× decade probe, the margin that OOMed
    one r10 probe execution at the 8 GiB bench heap).

    The frame must NEVER be evaluated again: a local checkpoint
    replaces lineage with the stored blocks, so releasing them makes
    recompute impossible (Spark raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).  Only call on frames whose
    every consumer has already materialized.

    Internal-API note: the handle walks
    ``queryExecution().analyzed().rdd()`` — the ``LogicalRDD`` a
    checkpoint returns — because the public surface has no release
    verb for checkpoints (``DataFrame.unpersist`` only touches
    ``cache()`` relations).  Failure is swallowed for the CALLER (an
    unreleased frame is a GC-eventual leak, never a correctness
    problem) but never silent: a Spark upgrade that changes the
    analyzed-plan shape would otherwise turn the measured OOM fix back
    into a per-round leak with no signal anywhere (r10 advisor
    finding), so the first failure logs at debug and every failure
    bumps ``_release_failures`` — and
    ``tests/test_scale_utils.py::test_release_local_checkpoint_drops_blocks``
    pins against the JVM's actual storage status that the release
    still drops the checkpointed blocks on this Spark version.
    """
    global _release_failures
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        if _release_failures == 0:
            _log.debug(
                "release_local_checkpoint: private-surface walk failed; "
                "checkpoint blocks will only release at driver GC",
                exc_info=True,
            )
        _release_failures += 1


def _unpersist_quietly(df: DataFrame) -> None:
    # blocking=False: eviction must never stall the caller; a stopped
    # session raises here, and its blocks are already gone with the JVM
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass


def _release(value: object) -> None:
    if isinstance(value, DataFrame):
        _unpersist_quietly(value)
    elif isinstance(value, tuple):
        for part in value:
            if isinstance(part, DataFrame):
                release_local_checkpoint(part)


class MemoSlots:
    """Capacity-bounded memo of one artifact, keyed on a frame's
    identity plus the current values of ``consts`` (see the module
    docstring)."""

    def __init__(
        self,
        name: str,
        build: Callable,
        consts: tuple[str, ...],
        capacity: int,
    ) -> None:
        if name in _REGISTRY:
            raise ValueError(f"memo {name!r} is already registered")
        self.name, self.build = name, build
        self.consts, self.capacity = consts, capacity
        self.hits = self.misses = 0
        # key -> (key frame, value), least recently used first
        self._slots: dict[tuple, tuple[object, object]] = {}
        _REGISTRY[name] = self

    def _key(self, key_frame: object) -> tuple:
        g = self.build.__globals__
        return (id(key_frame), *(g[c] for c in self.consts))

    def get(self, key_frame: object, *args: object) -> object:
        """The value for ``key_frame``, built by ``build(*args)`` on a
        miss."""
        k = self._key(key_frame)
        entry = self._slots.pop(k, None)
        if entry is not None:
            self.hits += 1
            self._slots[k] = entry
            return entry[1]
        self.misses += 1
        value = self.build(*args)
        if isinstance(value, DataFrame):
            value = value.cache()
        self._store(k, key_frame, value)
        return value

    def put(self, key_frame: object, value: object) -> None:
        """Store a driver value a producer computed without consulting
        the memo; counts as neither hit nor miss."""
        k = self._key(key_frame)
        self._slots.pop(k, None)
        self._store(k, key_frame, value)

    def _store(self, k: tuple, key_frame: object, value: object) -> None:
        # the stored key frame keeps its id from being reused while resident
        self._slots[k] = (key_frame, value)
        while len(self._slots) > self.capacity:
            _release(self._slots.pop(next(iter(self._slots)))[1])

    def clear(self) -> None:
        """Release every resident value."""
        for _, value in self._slots.values():
            _release(value)
        self._slots.clear()

    def __len__(self) -> int:
        return len(self._slots)
