"""Single-query fresh-JVM timer (attribution protocol, BENCH.md §3).

Usage: python tools/query_bench.py <query> [reps] [sf_dir] [cpus]

``cpus`` defaults to ``SPARK_GRAFT_CPUS``, else the cores this process
may run on (``session._default_cores``).

Each rep is a FRESH subprocess (new JVM, cold executor storage) so
timings cannot be contaminated by another query's resident RDDs or by
JIT state — the protocol VERDICT r3 asked for when attributing suite
regressions on this noisy shared VM. Prints one JSON line with all rep
timings plus min/median.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harvesting_validator_spark.session import _default_cores  # noqa: E402

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from harvesting_validator_spark.queries import ALL_QUERIES
from harvesting_validator_spark.session import get_spark

spark = get_spark(master="local[{cpus}]",
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
# same steady-state warmup bench.py declares: JVM codegen + Python workers
from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples
from harvesting_validator_spark.sources.synthetic import generate_sources
parse_sources_to_triples(generate_sources(spark, 256)).count()
spark.read.parquet("{sf_dir}/lineitem.parquet").limit(1).count()
t0 = time.time()
n = ALL_QUERIES["{query}"](spark, "{sf_dir}").count()
dt = time.time() - t0
print(json.dumps({{"rows": n, "sec": round(dt, 3)}}))
spark.stop()
"""


def main() -> None:
    query = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = sys.argv[4] if len(sys.argv) > 4 else str(_default_cores())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = CHILD.format(repo=repo, cpus=cpus, sf_dir=sf_dir, query=query)
    secs, rows = [], None
    for r in range(reps):
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        d = json.loads(line)
        rows = d["rows"]
        secs.append(d["sec"])
        print(f"# rep{r}: {d['sec']}s ({rows} rows)", file=sys.stderr)
    print(
        json.dumps(
            {
                "query": query,
                "sf_dir": sf_dir,
                "cpus": int(cpus),
                "reps": secs,
                "min": min(secs),
                "median": statistics.median(secs),
                "rows": rows,
            }
        )
    )


if __name__ == "__main__":
    main()
