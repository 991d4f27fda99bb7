"""Regenerate the autogen explain() excerpts in PLANS.md (round-4 verdict
#8: plan claims backed by captured plans, not hand-pasted prose).

Captures three hot-path physical plans on a small sf0.001 build:

1. IN-pushdown postings scan — `search()` with a <=512-term batch must
   show the literal In(term, ...) predicate in PushedFilters (row-group
   pruning at the parquet scan), and the scan's Location must list only
   the batch's `bucket=` directories (`postings_for` picks them before
   the scan, so no PartitionFilters appear). sf0.001 sizes to a single
   bucket by default, so the capture's index is built with
   `num_buckets=NUM_BUCKETS`.
2. Tree top-k merge — `search(plan='distributed')` over 8 shards with
   `bm25.TREE_MERGE_MIN_SHARDS = 0` and `bm25.TREE_MERGE_FANIN = 2` must
   show the stacked per-level ranking windows
   (bounded fanin*k rows per task per level).
3. shard_bucket pack — the build's packed frame must show the
   (shard, bucket) grouping into FlatMapGroupsInPandas plus the
   broadcast df join that mode pays for its bounded task memory.

Usage: python BENCH/capture_plans.py   (rewrites the marked block in
PLANS.md in place; run from the repo root)
"""
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- BEGIN AUTOGEN EXPLAIN (python BENCH/capture_plans.py) -->"
END = "<!-- END AUTOGEN EXPLAIN -->"


def explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def excerpt(plan: str, node_patterns: list[str], detail_patterns: list[str]) -> str:
    """Keep the plan's tree header lines matching node_patterns plus the
    detail-section lines matching detail_patterns — plans are hundreds of
    lines; the claim-bearing nodes are what PLANS.md needs."""
    lines = plan.splitlines()
    out = []
    node_re = re.compile("|".join(node_patterns))
    det_re = re.compile("|".join(detail_patterns)) if detail_patterns else None
    in_detail = False
    for ln in lines:
        if not ln.strip():
            in_detail = True
            continue
        if not in_detail:
            if node_re.search(ln):
                out.append(ln)
        elif det_re is not None and det_re.search(ln):
            out.append(ln.strip()[:200])
    return "\n".join(out)


def main() -> None:
    from llm_rankers_spark.corpus import driver_documents
    from llm_rankers_spark.operators import bm25
    from llm_rankers_spark.operators.bm25 import search
    from llm_rankers_spark.operators.index_build import NUM_BUCKETS, build_index
    from llm_rankers_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = driver_documents(spark, "/root/testdata/sf0.001")
    qs = spark.createDataFrame(
        [("q1", "spark query join"), ("q2", "hash scan"), ("q3", "dup")],
        "qid string, query string",
    )

    # --- shard_bucket pack plan (captured pre-write via explain_out) ------
    eo: dict = {}
    idx_dir = tempfile.mkdtemp(prefix="llmrs_plans_idx_")
    idx = build_index(
        docs.select("docid", "content", "content_sha256"), idx_dir,
        tokenizer_mode="simple", num_shards=8, pack_group="shard_bucket",
        num_buckets=NUM_BUCKETS, explain_out=eo,
    )
    pack_ex = excerpt(
        eo["pack_plan"],
        [r"FlatMapGroupsInPandas", r"Exchange", r"BroadcastHashJoin", r"HashAggregate",
         r"BroadcastExchange", r"Sort "],
        [r"Arguments: \[shard", r"hashpartitioning\(shard", r"Functions: \[count",
         r"BuildRight"],
    )

    # --- IN-pushdown scan (driver-planned search, small batch) ------------
    run = search(idx, qs, k=5, plan="driver")
    in_ex = excerpt(
        explain_formatted(run),
        [r"Scan parquet", r"Filter", r"FlatMapGroupsInPandas", r"WindowGroupLimit"],
        [r"PushedFilters", r"Location"],
    ).replace(idx_dir, "<index>")

    loc = re.search(r"postings/bucket=\d+(?:, \.\.\. (\d+) entries)?\]", in_ex)
    assert loc, "postings scan Location missing"
    n_buckets_read = int(loc.group(1) or 1)
    assert n_buckets_read < NUM_BUCKETS, "postings scan opens every bucket"

    # --- tree merge levels ------------------------------------------------
    # the tree runs above TREE_MERGE_MIN_SHARDS; lower it and the fan-in so
    # 8 shards fold in three levels
    bm25.TREE_MERGE_MIN_SHARDS, bm25.TREE_MERGE_FANIN = 0, 2
    tree = search(idx, qs, k=5, plan="distributed")
    tree_ex = excerpt(
        explain_formatted(tree),
        [r"Window", r"WindowGroupLimit", r"FlatMapCoGroupsInPandas", r"Filter"],
        [r"row_number", r"windowgrouplimit"],
    )

    block = f"""{BEGIN}
_Regenerated by `python BENCH/capture_plans.py` on sf0.001 (8 shards,
{NUM_BUCKETS} term buckets, fanin 2) — excerpts keep only the
claim-bearing nodes._

**shard_bucket pack** — grouping key is `(shard, bucket)` (hot term split
across shards; task rows bounded by the shard's bucket share) and the
global df arrives via the slim-count broadcast join this mode pays for:

```
{pack_ex}
```

**IN-pushdown postings scan** — the <=512-term batch reaches the parquet
scan as a literal `In(term, ...)` PushedFilter (row-group pruning below
the join), and the scan opens only the batch's term-bucket directories
(`Location`: {n_buckets_read} of {NUM_BUCKETS}, picked before the scan):

```
{in_ex}
```

**Tree top-k merge** — 8 shards at fanin 2 fold through stacked ranking
windows (each level one WindowGroupLimit + Window keeping k per
(qid, group) — per-task input bounded at fanin*k rows per qid),
terminating in the single per-qid rank window:

```
{tree_ex}
```
{END}"""

    plans_path = os.path.join(REPO, "PLANS.md")
    text = open(plans_path).read()
    if BEGIN in text:
        pre = text.split(BEGIN)[0]
        post = text.split(END)[1]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n## Captured plans (autogen)\n\n" + block + "\n"
    open(plans_path, "w").write(text)
    print("PLANS.md autogen block updated")
    # sanity: the claims must actually hold in the captured plans
    assert "In(term" in in_ex or "In(term" in explain_formatted(run), "IN pushdown missing"
    assert tree_ex.count("WindowGroupLimit") >= 2, "tree merge shows <2 window levels"
    assert "FlatMapGroupsInPandas" in pack_ex, "pack plan missing group stage"
    spark.stop()


if __name__ == "__main__":
    main()
