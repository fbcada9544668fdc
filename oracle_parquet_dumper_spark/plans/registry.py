"""Query registry — the single source of truth for the engine's surface.

Every operator the engine claims is registered here exactly once as a
``QuerySpec``: a named Spark function ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) an ANSI-SQL oracle string that DuckDB runs on
the same parquet tables.  ``__spark_entry__.py``, ``tests/`` and
``bench.py`` all iterate this registry, so coverage, correctness checks,
and benchmarks can never drift apart.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    doc: str = ""
    # LSH-family scale declaration (VERDICT r9 #2): log2 of the band-key
    # VALUE domain, and whether per-bucket work is bounded by a declared
    # occupancy cap / capacity-scaled banding.  Band-key CARDINALITY,
    # not band count, is the LSH scale limiter — the round-9 sf1 sweep
    # measured mm_phash_neardup going N^2/256 on 8-bit band keys.
    band_bits: float | None = None
    capped_occupancy: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    band_bits: float | None = None,
    capped_occupancy: bool = False,
):
    """Decorator registering a query implementation under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if bench and "demo" in tags:
            # demo = deliberately-naive form kept for pedagogy (e.g.
            # quadratic-within-block pair scoring); its LSH/bucketed
            # flagship twin is the benchable scale path.
            raise ValueError(f"demo-tagged query {name!r} cannot be a bench query")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            tags=tags,
            bench=bench,
            doc=fn.__doc__ or "",
            band_bits=band_bits,
            capped_occupancy=capped_occupancy,
        )
        return fn

    return deco


# ---------------------------------------------------------------------------
# LSH band-key cardinality rule (VERDICT r9 #2)
# ---------------------------------------------------------------------------

LSH_FAMILY_TAGS = {"lsh", "simhash"}

# Fixed band-key domains below 2^20 concentrate occupancy as the corpus
# grows (expected rows/bucket ~ n/2^bits, candidate pairs ~ n^2/4^bits),
# so they must carry a declared defense: a per-bucket occupancy cap, a
# capacity-scaled bits knob, a demo tag (bench-barred pedagogy), or a
# written ruling below.
MIN_FIXED_BAND_BITS = 20.0

# Adjudicated fixed sub-threshold domains.  Every entry is a WRITTEN
# RULING — the same convention as the sf1-sweep exclusion list: adding
# a name here without real justification is a review-visible act.
LSH_BAND_DOMAIN_RULINGS: dict[str, str] = {
    "mm_phash_neardup": (
        "4 x 16-bit blocks (Manku, Jain & Das Sarma, WWW'07): the "
        "Hamming<=3 pigeonhole EXACTNESS contract fixes the banding at "
        "4 bands over the 64-bit fingerprint — a cap would break "
        "exactness, wider bands would break the pigeonhole.  Occupancy "
        "measured ~9 docs/bucket at sf1 (SCALING.md r9); corpora far "
        "past that call for prefix-extended band keys, not a silent cap."
    ),
    "sim_threshold_join_lsh": (
        "full-recall-at-this-banding reference (4 x 4-bit bands; wider "
        "bands gut recall at the 0.2 threshold: p~0.56 per bit => "
        "recall ~4% at 8 bits vs ~35% at 4).  The production scale "
        "path is sim_threshold_join_lsh_capped (per-bucket occupancy "
        "cap, O(#buckets) at any occupancy, bench headline set)."
    ),
    "sim_ann_lsh": (
        "probe-style query-vs-corpus bucket scan, not a pair self-join: "
        "cost is O(N/2^bits) per query (a fraction-scanned index, like "
        "IVF), never N^2/2^bits; recall floor regression-pinned at "
        "sf0.1/sf1 in tests/test_ann_recall_sf1.py."
    ),
    "sim_ann_lsh_multiprobe": (
        "probe-style (9 of 256 buckets per query, Lv et al. VLDB'07): "
        "cost O(9N/256) per query, no pair self-join; recall floor "
        "regression-pinned in tests/test_ann_recall_sf1.py."
    ),
    "sim_range_search_radius": (
        "probe-style radius query over the same 9/256 multiprobe bucket "
        "set as sim_ann_lsh_multiprobe — O(9N/256) per query, no pair "
        "self-join; output bounded by the in-radius set, not by k."
    ),
    "sim_recall_eval": (
        "evaluation query over the multiprobe index's candidates for a "
        "bounded query batch — same probe-style cost model as "
        "sim_ann_lsh_multiprobe, plus a brute-force term that is "
        "explicitly the ground-truth cost being measured."
    ),
    "sim_ndcg_eval": (
        "same ruling as sim_recall_eval: position-aware evaluation over "
        "the identical multiprobe candidate set for the same bounded "
        "query batch — probe-style cost, brute-force term IS the ground "
        "truth being measured."
    ),
}


def lsh_band_domain_violations(registry: dict[str, QuerySpec] | None = None) -> list[str]:
    """Lint every LSH-family query's band-key domain declaration.

    Returns one message per violation: an lsh/simhash-tagged query with
    no declared ``band_bits``, or a fixed domain below
    ``MIN_FIXED_BAND_BITS`` bits with no occupancy cap, no demo tag,
    and no written ruling.  Armed registry-wide by
    tests/test_registry_hygiene.py."""
    reg = REGISTRY if registry is None else registry
    out: list[str] = []
    for name, s in reg.items():
        if not (set(s.tags) & LSH_FAMILY_TAGS):
            continue
        if s.band_bits is None:
            out.append(
                f"{name}: lsh-family query must declare band_bits "
                "(log2 of the band-key value domain)"
            )
            continue
        if s.band_bits >= MIN_FIXED_BAND_BITS or s.capped_occupancy:
            continue
        if "demo" in s.tags or name in LSH_BAND_DOMAIN_RULINGS:
            continue
        out.append(
            f"{name}: fixed band-key domain 2^{s.band_bits:g} < "
            f"2^{MIN_FIXED_BAND_BITS:g} without an occupancy cap, "
            "capacity-scaled bands, a demo tag, or a written ruling "
            "(LSH_BAND_DOMAIN_RULINGS)"
        )
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def bench_queries() -> dict[str, QuerySpec]:
    return {name: spec for name, spec in REGISTRY.items() if spec.bench}
