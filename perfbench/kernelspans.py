"""Spans around the kernels of qfilter_spark, installed by patching the
public names the library looks up at call time.

Used in the driver and, through ``pyspark_perfbench_worker``, in every
Python worker. A span records its wall time; a layer's ``self_s`` is that
time minus the time of kernel spans nested inside it, so the layers of one
process add up without double counting.
"""

from __future__ import annotations

import functools
import threading
import time

# per-layer tallies: calls, items, bytes, self seconds
CALLS, ITEMS, BYTES, SELF_S = range(4)


class Recorder:
    """Per-(op, layer) tallies. ``current_op`` returns the id of the timed
    operation running now, or None outside timed operations."""

    def __init__(self, current_op):
        self.current_op = current_op
        self.stats: dict[tuple[str, str], list] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, fn, items=None, nbytes=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            op = self.current_op()
            if op is None:
                return fn(*args, **kwargs)
            stack = self._stack()
            child = [0.0]
            stack.append(child)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                stack.pop()
                if stack:
                    stack[-1][0] += dur
            n = items(args, out) if items else 0
            b = nbytes(args, out) if nbytes else 0
            with self._lock:
                s = self.stats.setdefault((op, layer), [0, 0, 0, 0.0])
                s[CALLS] += 1
                s[ITEMS] += n
                s[BYTES] += b
                s[SELF_S] += dur - child[0]
            return out
        return traced

    def take(self) -> dict[tuple[str, str], list]:
        with self._lock:
            out, self.stats = self.stats, {}
        return out


def _arg_size(i):
    return lambda args, out: int(getattr(args[i], "size", 0)) if len(args) > i else 0


def _out_size(args, out):
    return int(out.size)


def _out_len(args, out):
    return len(out)


def _arg_len(i):
    return lambda args, out: memoryview(args[i]).nbytes if len(args) > i else 0


def install(rec: Recorder) -> None:
    """Patch the kernels in place for this process."""
    from qfilter_spark import blocks, rsqf, sketches
    from qfilter_spark.dist import agg
    from qfilter_spark.functions import ngrams
    from qfilter_spark.sketches import base

    w = rec.wrap("ngrams.ngram_hashes", ngrams.ngram_hashes, items=_out_size)
    # dist.agg imported the name directly, so rebind it there too
    ngrams.ngram_hashes = agg.ngram_hashes = w

    blocks.encode = rec.wrap("blocks.encode", blocks.encode,
                             items=_arg_size(0), nbytes=_out_len)
    blocks.decode = rec.wrap("blocks.decode", blocks.decode,
                             items=_out_size, nbytes=_arg_len(0))

    F = rsqf.Filter
    for name in ("insert_hashes", "contains_hashes", "remove_hashes"):
        setattr(F, name, rec.wrap(f"rsqf.{name}", getattr(F, name),
                                  items=_arg_size(1)))
    F.to_bytes = rec.wrap("rsqf.to_bytes", F.to_bytes, nbytes=_out_len)
    F.from_bytes = classmethod(rec.wrap(
        "rsqf.from_bytes", F.__dict__["from_bytes"].__func__,
        nbytes=_arg_len(1)))

    loads = rec.wrap("sketches.loads", base.loads, nbytes=_arg_len(0))
    base.loads = sketches.loads = loads
    for cls in (sketches.RsqfSketch, sketches.BloomFilter, sketches.HllSketch,
                sketches.CountMinSketch, sketches.KllSketch, sketches.TDigest):
        cls.merge = rec.wrap("sketches.merge", cls.merge)
        cls.to_bytes = rec.wrap("sketches.to_bytes", cls.to_bytes,
                                nbytes=_out_len)
        for upd in ("update_hashes", "update_values"):
            if upd in cls.__dict__:
                setattr(cls, upd, rec.wrap("sketches.update", cls.__dict__[upd],
                                           items=_arg_size(1)))
    sketches.RsqfSketch.to_blocks_bytes = rec.wrap(
        "sketches.to_bytes", sketches.RsqfSketch.to_blocks_bytes,
        nbytes=_out_len)
