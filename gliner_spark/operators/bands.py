"""The guarded band self-join: the one candidate-pair engine of every
MinHash and SimHash pair join (``linking.lsh_links``,
``dedup.minhash_dups``, ``dedup.simhash_dups`` and admission's
``incremental._verified_pairs``).

A banded table holds one row per (record, band) carrying the band's
key columns; two records are candidates when they meet in a band
bucket (equal keys). Each caller keeps its own join predicate and its
own verify — this module only owns the bucket. The keys are flat
primitive columns: a MinHash band is keyed by its exact signature
slice packed two values per ``bigint``, not by the ``array<bigint>``
slice itself, whose sort and hash cost the window and the join ~25%
more CPU (and a struct of the packed values no less).

Skew guard: a bucket holding more than ``max_bucket`` rows is dropped
whole — a mega-bucket carries almost no signal and would cost a
quadratic block of candidate pairs. The guard counts each bucket with
a window partitioned by the band keys, so the band-key exchange the
window needs is the one the self-join needs too: guard and join cost
ONE shuffle of the banded rows, not a guard aggregation joined back.
A hot bucket is counted inside one task before it is dropped
(docs/SCALE.md). ``dropped_buckets`` is the audit of the guard: an
operator's recall claim holds only while it returns 0 on the banded
table the operator joins.

``band_pairs_local`` is the driver twin of ``band_pairs`` over numpy
key arrays, with the same bucket and the same guard: the driver passes
below ``util.DRIVER_ROWS`` (``linking.lsh_links_local``, admission's
``incremental._admit_local``) pair their rows through it.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# every MinHash signature value is below 2^31 (``linking.MERSENNE``)
_VALUE_BITS = 31


def minhash_bands(n_perms: int, bands: int) -> tuple[Column, tuple[str, ...]]:
    """(generator column, its key columns) over the ``sig`` column of an
    ``n_perms``-wide MinHash signature: ``bands`` rows per record, each
    keyed by ``band_idx`` and its exact signature slice, packed two
    31-bit values per ``bigint`` column (``band_key``, ``band_key1``,
    …). The packing is injective, so — unlike a hash of the slice — no
    collision ever makes a false candidate or merges two buckets under
    the guard; the key columns stay primitive for the window's sort
    and the join."""
    assert n_perms % bands == 0
    rows = n_perms // bands
    names = ["band_key"] + [f"band_key{j}" for j in range(1, (rows + 1) // 2)]

    def band(i):
        def v(j):
            return F.element_at(F.col("sig"), i * rows + j + 1)
        return F.struct(i.alias("band_idx"), *[
            (F.shiftleft(v(j), _VALUE_BITS) + v(j + 1) if j + 1 < rows
             else v(j)).alias(name)
            for j, name in zip(range(0, rows, 2), names)
        ])

    return (F.inline(F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
                                 band)),
            ("band_idx", *names))


def band_pairs(banded: DataFrame, keys: Sequence[str], max_bucket: int,
               cond: Column) -> DataFrame:
    """Self-join of ``banded``, aliased ``a`` and ``b``, on equal
    ``keys`` and ``cond`` (written over ``a.*``/``b.*``), within buckets
    of at most ``max_bucket`` rows. One row per shared band: a pair
    meeting in several bands comes back once per band, for the caller
    to dedup or aggregate after its verify."""
    guarded = banded.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    ).where(F.col("_bn") <= max_bucket)
    # merge hint: both sides already sit in the window's band-key
    # partitions and sort order, so the sort-merge join needs no new
    # exchange; an adaptive switch to a broadcast join would add one
    a, b = guarded.alias("a").hint("merge"), guarded.alias("b")
    on = reduce(lambda x, y: x & y,
                [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    return a.join(b, on & cond)


def dropped_buckets(banded: DataFrame, keys: Sequence[str],
                    max_bucket: int) -> int:
    """Number of buckets of ``banded`` that ``band_pairs`` with the
    same ``keys`` and ``max_bucket`` drops under its skew guard."""
    return (
        banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") > max_bucket)
        .count()
    )


def band_pairs_local(band_keys: Iterable[np.ndarray], max_bucket: int,
                     max_pairs: int, right: np.ndarray | None = None):
    """``band_pairs`` on the driver: the distinct row-position pairs
    (i, j), i < j, that meet in a bucket of at most ``max_bucket`` rows
    in any band — as two arrays in (i, j) order — or None once there
    are more than ``max_pairs`` of them, so the driver never holds
    more. ``band_keys`` yields one (rows × key width) integer array per
    band; rows with equal keys share its bucket. A pair is emitted only
    when its later row j is ``right`` (all rows when None): a caller
    ordering its rows so that j is the side its predicate needs builds
    no pair it would throw away."""
    cand = None
    for key in band_keys:
        n = len(key)
        # sorted by key, then position: a bucket's members in row order
        o = np.lexsort((np.arange(n), *key.T[::-1]))
        key = key[o]
        first = np.ones(n, bool)
        first[1:] = (key[1:] != key[:-1]).any(axis=1)
        grp = np.cumsum(first) - 1
        start = np.flatnonzero(first)[grp]
        size = np.bincount(grp)[grp]
        ok = (size > 1) & (size <= max_bucket)
        if right is not None:
            ok &= right[o]
        # each j pairs with the bucket members before it; two rows share
        # at most one bucket of a band, so the band's pairs are
        # distinct, counted before they are built
        j = np.flatnonzero(ok)
        before = j - start[j]
        if before.sum() > max_pairs:
            return None
        jj = np.repeat(j, before)
        ii = np.repeat(start[j], before) + np.arange(len(jj)) - np.repeat(
            np.cumsum(before) - before, before)
        codes = o[ii] * n + o[jj]
        cand = codes if cand is None else np.union1d(cand, codes)
        if len(cand) > max_pairs:
            return None
    if cand is None:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.divmod(np.unique(cand), max(n, 1))
