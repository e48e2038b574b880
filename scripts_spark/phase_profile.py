"""Phase-by-phase scaling profile of the frontier bench pass (v4).

Times each phase of the bench's timed region separately at local[N_LO]
and local[N_HI] (fresh JVM each) and prints per-phase 4x-scaling
efficiency — identifies which phase caps the end-to-end number.

Phases mirror the REAL execution order of frontier.schedule_seed_list:
the pass persists the unseen frame and the politeness census
materializes it, so the natural split is (1) canonicalize + seen filter
up to the persisted unseen count, (2) politeness from cache. Seen-set state (table, bloom, exact
index) is built before the timer, exactly like bench.frontier_throughput.

Usage: python scripts_spark/phase_profile.py [n_urls]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N_LO, N_HI = 4, 16

RUNNER = r"""
import json, sys, time
sys.path.insert(0, ".")
from pyspark.sql import functions as F
from post_processor_spark.session import get_spark
from post_processor_spark import canon, fixtures, frontier
from post_processor_spark import seen as seen_mod

cores = int(sys.argv[1]); n_urls = int(sys.argv[2])
spark = get_spark(cores=cores, app_name=f"prof-{cores}", shuffle_partitions=cores*2)

def one_pass(n):
    n_hosts = max(200, n // 50)
    seeds = fixtures.synthetic_seed_frontier(
        spark, n, n_hosts=n_hosts, mega_host_share=0.3, seed=99)
    spark.catalog.clearCache()
    # pre-existing state, untimed (bench.frontier_throughput contract)
    seen_tbl = (
        canon.with_canonical(
            fixtures.synthetic_seed_frontier(
                spark, n, n_hosts=n_hosts, mega_host_share=0.3, seed=99
            ).filter(F.col("seq") % 5 == 0))
        .select("url_hash", "host_hash", F.lit(0).alias("generation"))
        .persist())
    bloom_df = seen_mod.build_bloom(seen_tbl).persist(); bloom_df.count()
    idx_df = seen_mod.build_exact_index(seen_tbl).persist(); idx_df.count()
    seen_tbl.count()

    out = {}
    t0 = time.time()
    cand = frontier._slim_encode(frontier.seed_candidates(seeds))
    unseen = seen_mod.filter_unseen(
        cand, seen_tbl, use_bloom=True, bloom=bloom_df, exact_index=idx_df,
    ).persist()
    unseen.count()
    out["p1_canon_seen_filter"] = time.time() - t0

    t0 = time.time()
    n_sched = (
        frontier.politeness_schedule(
            unseen, generation=1, budget_per_host=64, salt_parts=64,
            dedupe=True,
        )
        .filter(F.col("status") == "scheduled")
        .count())
    out["p2_politeness"] = time.time() - t0
    unseen.unpersist(); seen_tbl.unpersist()
    bloom_df.unpersist(); idx_df.unpersist()
    out["scheduled"] = n_sched
    return out

one_pass(100_000)   # warm-up
best = None
for _ in range(2):
    r = one_pass(n_urls)
    tot = r["p1_canon_seen_filter"] + r["p2_politeness"]
    if best is None or tot < best[0]:
        best = (tot, r)
print(json.dumps({"cores": cores, "total": best[0], **best[1]}))
spark.stop()
"""

PHASES = ("p1_canon_seen_filter", "p2_politeness", "total")


def run_at(cores: int, n_urls: int) -> dict:
    mem = os.environ.get("SPARK_DRIVER_MEM", f"{cores * 4}g")
    env = dict(os.environ, SPARK_DRIVER_MEM=mem)
    out = subprocess.run(
        [sys.executable, "-c", RUNNER, str(cores), str(n_urls)],
        capture_output=True, text=True, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=3600,
    )
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"no output at cores={cores}: {out.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> None:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    lo = run_at(N_LO, n_urls)
    hi = run_at(N_HI, n_urls)
    print(json.dumps({"lo": lo, "hi": hi}))
    for ph in PHASES:
        eff = (lo[ph] / hi[ph]) / (N_HI / N_LO)
        print(f"{ph:22s} lo={lo[ph]:7.2f}s hi={hi[ph]:7.2f}s eff={eff:.3f}")


if __name__ == "__main__":
    main()
