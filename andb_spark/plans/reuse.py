"""Workload-level computation-reuse advisor (SparkCruise-style).

SparkCruise (VLDB 2021, "SparkCruise: Workload Optimization in Managed
Spark Clusters at Microsoft" — PAPERS.md) observed that production
Spark workloads repeat the same subcomputations across queries, and
that materializing the hottest shared ones pays for itself. This module
is that idea scaled to our engine's surface: fingerprint every query's
*scans* (table, pruned column set, pushed filters — the part of the
plan that dominates 100 TB cost), aggregate the fingerprints across the
whole registered workload, and recommend shared materializations:

- a **projection** recommendation when many queries read the same
  narrow slice of a wide table (materialize the column-pruned slice —
  the classic vertical partition / covering-index analog, the Spark
  twin of the reference's CoveredIndexScan, andb/executor/operator/
  physical/select.py:362-381);
- a **shared-scan** recommendation when the identical (table, columns,
  filters) signature recurs (materialize once, read many — the common
  subexpression case).

Advisory only — nothing is rewritten behind the user's back; the
output feeds `CREATE MATERIALIZED VIEW`, which the engine already
maintains atomically. Fingerprints come from the static optimized plan
(`sparkPlan`); streaming builders are name-excluded so advising never
runs a streaming job, though a few batch builders (k-means, bloom
build) execute bounded driver-side jobs as part of constructing their
DataFrame — advising costs plan compilation plus only those builders'
own setup work.
"""

from __future__ import annotations

import hashlib
import logging
import re
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from andb_spark.sql.scan import split_items

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class ScanSignature:
    """One FileScan's reusable identity."""

    table: str
    columns: tuple[str, ...]  # ReadSchema — what actually leaves the scan
    filters: tuple[str, ...]  # PushedFilters — parquet-level pruning
    # digest of ALL root paths for multi-segment (managed-table) scans:
    # two scans of the same table differing only in later segment roots
    # must not share a fingerprint ("" for plain single-root scans)
    version: str = ""


@dataclass
class ReuseReport:
    """Scan fingerprints aggregated over a workload."""

    # signature -> query names that produce it
    scans: dict[ScanSignature, list[str]] = field(default_factory=dict)
    # table -> full schema width seen across the workload (max observed)
    table_width: dict[str, int] = field(default_factory=dict)
    # query name -> error string, for builders that failed to compile
    errors: dict[str, str] = field(default_factory=dict)


def scan_signatures(df: DataFrame) -> list[ScanSignature]:
    """Extract every parquet scan's (table, read columns, pushed
    filters) from the STATIC optimized plan — no execution. Walks the
    JVM plan tree (FileSourceScanExec accessors) instead of parsing
    plan strings, which Spark truncates."""
    plan = df._jdf.queryExecution().sparkPlan()
    leaves = plan.collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.getClass().getName().endswith("FileSourceScanExec"):
            continue
        roots = leaf.relation().location().rootPaths()
        paths = sorted(
            roots.apply(j).toString() for j in range(roots.size())
        )
        # Table identity from the path: a managed-table scan's roots
        # are version-segment dirs ("v-<hex>", api._stage_version)
        # under the TABLE dir — name the table by the parent in that
        # case; the version digest keeps scans of different manifests
        # from falsely sharing a fingerprint.
        parts = paths[0].rstrip("/").split("/")
        base = parts[-1].removesuffix(".parquet")
        # a managed scan's roots are v-<hex> segment DIRS, or (after
        # copy-on-write) individual part FILES inside one — in the
        # file case the v-dir sits one level up
        if re.fullmatch(r"v-[0-9a-f]{12}", base) and len(parts) >= 2:
            managed, table = True, parts[-2]
        elif len(parts) >= 3 and re.fullmatch(
            r"v-[0-9a-f]{12}", parts[-2]
        ):
            managed, table = True, parts[-3]
        else:
            managed, table = False, base
        version = (
            hashlib.md5("|".join(paths).encode()).hexdigest()[:8]
            if managed or len(paths) > 1
            else ""
        )
        cols = tuple(sorted(leaf.requiredSchema().fieldNames()))
        opt = leaf.metadata().get("PushedFilters")
        raw = opt.get() if opt.isDefined() else "[]"
        # "[IsNotNull(a), In(b, [1,2])]" -> split on top-level commas
        flt = tuple(sorted(split_items(
            raw.strip().removeprefix("[").removesuffix("]")
        )))
        out.append(ScanSignature(table, cols, flt, version))
    return out


def analyze_workload(
    queries: dict, spark, sf_dir: str, names: list[str] | None = None
) -> ReuseReport:
    """Fingerprint a set of registered queries (plan compile only).

    Queries whose BUILDER executes work are excluded by name up front:
    the streaming builders (workloads.streaming_q.EXECUTING_BUILDERS —
    the ``s_stream_*`` family plus ``s_stateful_user``) run Structured
    Streaming jobs to completion as a side effect of construction (and
    yield no FileSourceScan to fingerprint anyway), so "compile-only"
    would be false if they were invoked. Builders that raise are
    recorded in ``report.errors`` and logged — a silent skip would hide
    genuine regressions from the advisor's output."""
    from andb_spark.workloads.streaming_q import EXECUTING_BUILDERS

    report = ReuseReport()
    grouped: dict[ScanSignature, list[str]] = defaultdict(list)
    probed: set[str] = set()  # tables whose TRUE schema width was read
    for name in names if names is not None else sorted(queries):
        if name.startswith("s_stream_") or name in EXECUTING_BUILDERS:
            continue  # builder executes a streaming job; not advisable
        try:
            df = queries[name](spark, sf_dir)
        except Exception as e:
            report.errors[name] = f"{type(e).__name__}: {e}"
            log.warning("reuse advisor: query %s failed to build: %s", name, e)
            continue
        for sig in scan_signatures(df):
            grouped[sig].append(name)
            if sig.table not in report.table_width:
                # true schema width, so the projection heuristic compares
                # read columns against the FULL table, not other readers.
                # Managed tables' data lives under <warehouse>/<t>/v-*/
                # (never {sf_dir}/{t}.parquet), so the probe fails for
                # them — fall back to the widest OBSERVED signature,
                # maintained below, rather than freezing the first one
                # (which would make every projection ratio >= 1 and
                # suppress all narrow-slice recommendations).
                try:
                    full = spark.read.parquet(
                        f"{sf_dir}/{sig.table}.parquet"
                    )
                    report.table_width[sig.table] = len(full.columns)
                    probed.add(sig.table)
                except Exception:
                    report.table_width[sig.table] = len(sig.columns)
            elif sig.table not in probed:
                # width came from a fallback: keep it at the max
                # observed signature width across all queries
                report.table_width[sig.table] = max(
                    report.table_width[sig.table], len(sig.columns)
                )
    report.scans = dict(grouped)
    return report


def recommendations(
    report: ReuseReport,
    min_queries: int = 3,
    max_width_fraction: float = 0.75,
) -> list[dict]:
    """Turn the fingerprint aggregate into ranked, actionable advice.

    Returns dicts with kind ('shared_scan' | 'projection'), table,
    columns, n_queries, queries and, for shared scans, filters —
    sorted by how many queries each materialization would serve.
    """
    recs: list[dict] = []
    # identical signature reused across queries -> shared scan
    for sig, qs in report.scans.items():
        if len(set(qs)) >= min_queries and sig.filters:
            recs.append(
                {
                    "kind": "shared_scan",
                    "table": sig.table,
                    "columns": list(sig.columns),
                    "filters": list(sig.filters),
                    "n_queries": len(set(qs)),
                    "queries": sorted(set(qs)),
                }
            )
    # many queries reading a narrow slice of the same table -> projection
    by_table: dict[str, tuple[set[str], set[str]]] = {}
    for sig, qs in report.scans.items():
        cols, users = by_table.setdefault(sig.table, (set(), set()))
        cols.update(sig.columns)
        users.update(qs)
    for table, (cols, users) in by_table.items():
        width = report.table_width.get(table, len(cols)) or len(cols)
        if (
            len(users) >= min_queries
            and len(cols) / max(width, 1) <= max_width_fraction
        ):
            recs.append(
                {
                    "kind": "projection",
                    "table": table,
                    "columns": sorted(cols),
                    "n_queries": len(users),
                    "queries": sorted(users),
                }
            )
    return sorted(recs, key=lambda r: -r["n_queries"])
