"""The one module that decides when a cached frame is released.

Every ``persist()`` in the package has exactly one owner, and the
owner is visible where the frame is persisted:

- **session** — a :class:`SessionMemo` holds the frame. The memo
  releases it when the frame is replaced under its key, when its
  dataset group is evicted, or on :func:`release_all_memos`. Use it
  for state that later queries of the same session are meant to
  reuse (LSH pair tables, component labels, codebooks, the enriched
  documents frame).
- **query** — :func:`pin_on_first_action` on the frame the
  constructor returns. The wrapper unpersists its pins when it is
  garbage-collected, skipping any frame still held elsewhere (see
  below). An operator that persists on its caller's behalf takes the
  caller's pin list and appends to it; a query built on another
  query's result carries that result's pins (see below).
- **construction** — the constructor calls ``unpersist()`` before it
  returns, because the frame it returns no longer reads the cache.

Plan equality: Spark's ``CacheManager`` matches cached plans by
equality, not by object. Persisting a plan-equal copy of a cached
frame shares the existing entry, and ``unpersist()`` on EITHER copy
evicts it for both. So a query that needs a memo's frame takes the
frame from the memo; it never rebuilds and persists a twin. Twins
still arise when the same query runs twice while its first result
is alive (``df = q(); df = q()``), so a wrapper skips every pin that
a memo or another live wrapper holds, by identity or by plan
equality (:func:`_held_elsewhere`); the last holder releases it.

A release can change results, not only timings, where the cache is
what makes a result consistent: ``operators/total_order`` reads its
range-partitioned frame from two branches, and each recompute
samples new range bounds. Never release a frame while a plan built
on it can still run. A frame derived through the wrapper's own
methods (``result.select(...)``) is therefore pinned on the same
frames, without a fill, and the last holder releases them; a frame
that only takes the result as an argument (a join's other side,
``F.broadcast``) must carry the pins itself with :func:`take_pins`.

Memo capacity is 2 datasets by default: the scale-curve pattern
(sf0.1 → sf1 → sf5 in one session) keeps the current and previous
dataset warm while the one before that releases. Evicting a value
unpersists every DataFrame nested in it (dict / list / tuple);
driver-side values (numpy codebooks, params) are simply dropped, and
a memo may pass its own ``releaser``.

Pin on first action: several sibling branches of ONE query reading a
lazily persisted frame race to compute it before the cache fills,
and each racer re-runs the upstream plan. The wrapper makes the
query's own first action (collect, toPandas, ``.write``, count, …)
first run one ``count()`` per pin, in order, so each cache fills
exactly once and the real action reads stored partitions.
Construction stays job-free, and the pin jobs run inside the
measured action. List upstream pins first. ``fill=False`` skips the
counts and keeps only the release: right when the plan itself fills
each cache once (a chain consumed in build order, a single broadcast
funnel) or when construction already filled them.

Apply the wrapper to the outermost frame a query returns, after all
transformations.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from collections.abc import Callable, Hashable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

DEFAULT_MAX_DATASETS = 2

# every SessionMemo ever constructed, for release_all_memos() and
# the release checks
_REGISTRY: list["SessionMemo"] = []


def _frames(v: Any) -> Iterator[DataFrame]:
    """The DataFrames nested in one memo value (DataFrame / dict /
    tuple / list nesting)."""
    if isinstance(v, DataFrame):
        yield v
    elif isinstance(v, dict):
        for x in v.values():
            yield from _frames(x)
    elif isinstance(v, (list, tuple)):
        for x in v:
            yield from _frames(x)


def _release_value(v: Any) -> None:
    """Unpersist every DataFrame inside one evicted memo value."""
    for df in _frames(v):
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing left to free


class SessionMemo:
    """An LRU-of-datasets memo: ``get``/``put`` take the full memo
    key plus the dataset identity the key belongs to.  Multiple keys
    per dataset (flat/coarse k-means variants, where-restricted
    fingerprints) live and die together — exceeding ``max_datasets``
    releases the least-recently-USED dataset's entire group."""

    def __init__(
        self,
        name: str,
        max_datasets: int = DEFAULT_MAX_DATASETS,
        releaser: Callable[[Any], None] = _release_value,
    ):
        self.name = name
        self.max_datasets = max_datasets
        self._releaser = releaser
        self._groups: OrderedDict[Hashable, dict] = OrderedDict()
        _REGISTRY.append(self)

    def get(self, key: Hashable, dataset: Hashable) -> Any | None:
        g = self._groups.get(dataset)
        if g is None:
            return None
        self._groups.move_to_end(dataset)
        return g.get(key)

    def put(self, key: Hashable, value: Any, dataset: Hashable) -> Any:
        g = self._groups.setdefault(dataset, {})
        self._groups.move_to_end(dataset)
        # Re-putting under a live key releases the displaced value
        # now, not when its whole dataset group evicts.
        old = g.get(key)
        if old is not None and old is not value:
            self._releaser(old)
        g[key] = value
        while len(self._groups) > self.max_datasets:
            _, old = self._groups.popitem(last=False)
            for v in old.values():
                self._releaser(v)
        return value

    def release_dataset(self, dataset: Hashable) -> None:
        """Explicit eviction of one dataset's group (dataset
        regeneration, explicit reset)."""
        old = self._groups.pop(dataset, None)
        if old is not None:
            for v in old.values():
                self._releaser(v)

    def release_all(self) -> None:
        while self._groups:
            _, old = self._groups.popitem(last=False)
            for v in old.values():
                self._releaser(v)

    # dict-compatible spelling of a full reset (test fixtures)
    def clear(self) -> None:
        self.release_all()

    def datasets(self) -> list[Hashable]:
        return list(self._groups)

    def frames(self) -> Iterator[DataFrame]:
        """Every DataFrame this memo currently holds."""
        for g in self._groups.values():
            for v in g.values():
                yield from _frames(v)

    def __len__(self) -> int:
        return sum(len(g) for g in self._groups.values())


def release_all_memos() -> None:
    """Session-wide memo reset: release every dataset group of every
    registered memo (the explicit path for tests and long-lived
    services switching corpora)."""
    for m in _REGISTRY:
        m.release_all()


def held_by_memo(df: DataFrame) -> bool:
    """True when a :class:`SessionMemo` holds this very frame — the
    one test of session ownership."""
    return any(f is df for m in _REGISTRY for f in m.frames())


# live query results, so a release can see the other holders of a
# plan-equal cache entry
_LIVE: "weakref.WeakSet[PinnedDataFrame]" = weakref.WeakSet()


def _held_elsewhere(p: DataFrame, wrapper: "PinnedDataFrame") -> bool:
    """True when a memo or a live wrapper other than ``wrapper`` holds
    ``p`` or a plan-equal frame, i.e. the same CacheManager entry."""
    others = [f for m in _REGISTRY for f in m.frames()]
    others += [q for w in list(_LIVE) if w is not wrapper for q in w._PinnedDataFrame__pins]
    return any(q is p for q in others) or any(q.sameSemantics(p) for q in others)


# Action-like entry points that must fill the pinned caches first.
# Everything else (schema access, transformations, explain) stays
# lazy and job-free — explain/printSchema deliberately do NOT pin,
# so the plan lint can inspect wrapped plans without running jobs.
_ACTION_METHODS = (
    "collect",
    "toPandas",
    "toArrow",
    "count",
    "head",
    "take",
    "tail",
    "first",
    "show",
    "foreach",
    "foreachPartition",
    "toLocalIterator",
    "isEmpty",
    "checkpoint",
    "localCheckpoint",
    # returns a DataFrameWriterV2 — an action-by-proxy like .write
    "writeTo",
)


class PinnedDataFrame(_ClassicDataFrame):
    """A DataFrame whose first action materializes ``pins`` in order
    (one count() each) before the action itself executes, and whose
    garbage collection releases them."""

    def __init__(self, df: DataFrame, pins: Iterable[DataFrame]):
        # NOTE: extra constructor args would be rejected by
        # DataFrame.__new__'s dispatch — the fill=False mode is set
        # post-construction via _mark_prefilled()
        super().__init__(df._jdf, df.sparkSession)
        self.__pins = list(pins)
        self.__pinned = False
        self.__lock = threading.Lock()
        _LIVE.add(self)

    def _mark_prefilled(self) -> None:
        """Disable the first-action count() fill: pins stay
        registered for release only."""
        self.__pinned = True

    def _pin_now(self) -> None:
        """Idempotently fill every pinned cache (upstream-first)."""
        with self.__lock:
            if self.__pinned:
                return
            for p in self.__pins:
                p.count()
            self.__pinned = True

    def _take_pins(self) -> list[DataFrame]:
        pins, self.__pins = self.__pins, []
        return pins

    def __getattribute__(self, name):
        # a DataFrame a public method derives from this one keeps the
        # pins alive while it lives (module docstring)
        attr = super().__getattribute__(name)
        if name.startswith("_") or not callable(attr):
            return attr

        def derived(*args, **kwargs):
            out = attr(*args, **kwargs)
            if isinstance(out, DataFrame) and not isinstance(out, PinnedDataFrame):
                out = pin_on_first_action(out, self.__pins, fill=False)
            return out

        return derived

    # -- writer properties are actions-by-proxy: pin before handing
    # out the writer so `.write.format("noop").save()` (the bench's
    # materialization) rides warm caches.
    @property
    def write(self):
        self._pin_now()
        return super().write

    def __del__(self):
        # Guarded: the JVM/gateway may be gone at interpreter shutdown.
        try:
            for p in self.__pins:
                if not _held_elsewhere(p, self):
                    p.unpersist(blocking=False)
        except Exception:
            pass


def _make_action(name: str):
    base = getattr(_ClassicDataFrame, name)

    def action(self, *args, **kwargs):
        self._pin_now()
        return base(self, *args, **kwargs)

    action.__name__ = name
    action.__doc__ = base.__doc__
    return action


for _name in _ACTION_METHODS:
    setattr(PinnedDataFrame, _name, _make_action(_name))


def pin_on_first_action(
    df: DataFrame, pins: Iterable[DataFrame], fill: bool = True
) -> DataFrame:
    """Wrap ``df`` so its first action first materializes ``pins``
    (each already ``persist()``-ed by the caller), upstream-first,
    and so dropping it releases them (see the module docstring).
    With no pins, returns ``df`` unchanged. ``fill=False`` keeps only
    the release."""
    pins = [p for p in pins if p is not None]
    if not pins:
        return df
    wrapped = PinnedDataFrame(df, pins)
    if not fill:
        wrapped._mark_prefilled()
    return wrapped


def take_pins(df: DataFrame) -> list[DataFrame]:
    """Move a pinned result's pins to the caller, for a query built
    on that result: the caller re-pins them on its own result, and
    dropping ``df`` no longer releases them. A plain frame has
    none."""
    return df._take_pins() if isinstance(df, PinnedDataFrame) else []
