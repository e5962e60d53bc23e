"""Bidirectional string<->int64 node-id dictionary.

Reimplements the visible semantics of the reference ``Indexer``
(/root/reference/src/indexer.hpp:16-116):

- auto-assignment parses ``'44324' -> 44324`` and ``'w44324' -> 44324``
  (strip one leading ``w``; C++ ``std::stoll`` semantics: optional sign,
  leading-digit prefix parse — ``'12abc' -> 12``)
  (/root/reference/src/indexer.hpp:73-78);
- anything unparseable (or colliding with an already-taken int) allocates
  from a cursor starting at 1,000,000, skipping taken slots
  (/root/reference/src/indexer.hpp:83-87, :114);
- first-registered string wins an int id; later collisions fall through to
  the cursor.

Golden behavior: graph1 maps ``w1..w7 -> 1..7``
(/root/reference/tests/test_basic.py:1449-1453).

Two implementations:

- :class:`Indexer` — exact, order-dependent, driver-side. Used for fixture
  graphs and any small explicit node list (the order the reference sees is
  the call order, which only exists driver-side anyway).
- :func:`build_ids` — distributed bulk assignment for web-scale node sets
  (urls never parse as ints, so everything lands in the dense cursor range;
  the rule is made deterministic by ordering on the node string).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import local_df

_STOLL = re.compile(r"^\s*([+-]?[0-9]+)")
_CURSOR0 = 1_000_000


def _parse_stoll(s: str):
    """C++ std::stoll prefix-parse, or None."""
    body = s[1:] if s.startswith("w") else s
    m = _STOLL.match(body)
    if not m:
        return None
    try:
        v = int(m.group(1))
    except ValueError:  # pragma: no cover
        return None
    if v < -(2**63) or v >= 2**63:
        return None
    return v


class Indexer:
    """Exact order-dependent reimplementation of the reference Indexer."""

    def __init__(self):
        self._str2int: dict[str, int] = {}
        self._int2str: dict[int, str] = {}
        self._cursor = _CURSOR0

    def contains(self, key) -> bool:
        if isinstance(key, str):
            return key in self._str2int
        return key in self._int2str

    def get_id(self, key):
        if isinstance(key, str):
            return self._str2int.get(key)
        return self._int2str.get(key)

    def _register(self, str_id: str, int_id: int) -> bool:
        if str_id in self._str2int or int_id in self._int2str:
            return False
        self._str2int[str_id] = int_id
        self._int2str[int_id] = str_id
        return True

    def id(self, key):
        """str -> int64 (auto-setup), or int64 -> str (auto-setup)."""
        if isinstance(key, str):
            hit = self._str2int.get(key)
            if hit is not None:
                return hit
            parsed = _parse_stoll(key)
            if parsed is not None and self._register(key, parsed):
                return parsed
            while not self._register(key, self._cursor):
                self._cursor += 1
            out = self._cursor
            self._cursor += 1
            return out
        # int -> str with '/round' collision suffixes
        hit = self._int2str.get(key)
        if hit is not None:
            return hit
        base = str(key)
        cand, rnd = base, 0
        while cand in self._str2int:
            rnd += 1
            cand = f"{base}/{rnd}"
        self._register(cand, key)
        return cand

    def index(self) -> dict[str, int]:
        return dict(self._str2int)


_TAKEN_CAP = 10_000


def build_ids(nodes: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Distributed bulk id assignment: ``(node STRING) -> (node, id BIGINT)``.

    Same visible rule as the reference cursor/parse behavior, made
    deterministic for bulk (unordered) input: direct parses win their int;
    among strings parsing to the same int the least string wins;
    everything else gets dense ids ``1_000_000 + rank`` in node-string
    order.

    Scale shape (no global window — the web-scale case is 10^12 URLs, none
    of which parse): the direct-parse winner window partitions BY THE
    PARSED INT (groups = strings sharing one int, tiny); the dense cursor
    assignment is a two-phase global rank — range-partition on the sort
    key, per-partition local ``row_number`` (parallel), per-partition
    counts collected once (one row per partition) and turned into
    broadcast offsets. The full node set never passes through one task,
    and ids are partition-count-invariant because they equal the global
    node sort rank.

    Direct-parsed ints ≥ 1e6 occupy cursor slots; dense ids skip them via
    the closed form ``shift(rank) = #{i : taken_sorted[i] - i <= rank}``
    (taken_sorted strictly increasing ⇒ the u_i are nondecreasing, so one
    JVM array-filter per row). Such collisions are pathological at web
    scale — capped at ``_TAKEN_CAP`` with a hard error, never silent.
    """
    spark = nodes.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = nodes.select("node").distinct()
    body = F.when(
        F.col("node").startswith("w"), F.expr("substring(node, 2)")
    ).otherwise(F.col("node"))
    parsed = F.regexp_extract(F.ltrim(body), r"^([+-]?[0-9]+)", 1)
    n = n.withColumn("_parsed", F.when(parsed != "", parsed.cast("long")))
    # winner-per-int window: partitions are the (tiny) groups of strings
    # that parse to the SAME int — NULL (unparsed) rows skip the window
    parsed_rows = n.filter(F.col("_parsed").isNotNull())
    wp = Window.partitionBy("_parsed").orderBy("node")
    parsed_rows = parsed_rows.withColumn("_rn", F.row_number().over(wp))
    direct = parsed_rows.filter(F.col("_rn") == 1).select(
        "node", F.col("_parsed").alias("id")
    )
    fallback = (
        n.filter(F.col("_parsed").isNull())
        .select("node")
        .unionByName(parsed_rows.filter(F.col("_rn") > 1).select("node"))
    )
    # ---- two-phase parallel dense rank over the sort key ----
    # localCheckpoint pins the range partitioning so the counts job and the
    # rank job see identical _pid assignments (single evaluation)
    fb = (
        fallback.repartitionByRange(num_partitions, "node")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {r["_pid"]: r["cnt"] for r in fb.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = local_df(
        spark, [(p, o) for p, o in offsets.items()] or [(0, 0)], "_pid int, _off long"
    )
    wl = Window.partitionBy("_pid").orderBy("node")
    ranked = (
        fb.withColumn("_lrn", F.row_number().over(wl))
        .join(F.broadcast(off_df), "_pid")
        .select("node", (F.col("_off") + F.col("_lrn") - 1).alias("_rank"))
    )
    # ---- cursor slots already taken by direct parses ----
    taken = sorted(
        r[0]
        for r in direct.filter(F.col("id") >= _CURSOR0)
        .select("id")
        .limit(_TAKEN_CAP + 1)
        .collect()
    )
    if len(taken) > _TAKEN_CAP:
        raise RuntimeError(
            f"more than {_TAKEN_CAP} direct-parsed ids >= {_CURSOR0}; "
            "remap the cursor base instead of shifting around them"
        )
    base = F.col("_rank") + F.lit(_CURSOR0)
    if taken:
        u = [t - i for i, t in enumerate(taken)]  # nondecreasing thresholds
        shift = F.size(F.filter(F.lit(u), lambda x: x <= base))
        out_fb = ranked.select("node", (base + shift).alias("id"))
    else:
        out_fb = ranked.select("node", base.alias("id"))
    return direct.unionByName(out_fb)
