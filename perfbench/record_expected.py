#!/usr/bin/env python3
"""Re-records the `training_iter` expected values and checks the same
outputs against the DuckDB oracle.

Usage (from the repository root): python3 perfbench/record_expected.py <dir>

Writes the fixed corpus to <dir>, prints the values for `Expected.training`
in perfbench/src/main/scala/perfbench/Sizes.scala, then dumps the same
queries with graft.Verify and compares them with tools/check_oracle.py,
which must print no FAIL or ERR line before the values are pasted in.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

QUERIES = "p_pipeline_counts,q_kcore,e_knn_mutual"


def main():
    corpus = os.path.abspath(sys.argv[1])
    java = ["java", "-Xmx3g", "-Dspark.ui.enabled=false"] + \
        [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-cp", run.classpath()]
    subprocess.run(java + ["perfbench.Record", corpus], check=True)
    out = os.path.join(corpus, "verify")
    env = dict(os.environ, SPARK_GRAFT_ONLY=QUERIES, SPARK_GRAFT_CPUS="4")
    subprocess.run(java + ["graft.Verify", corpus, out], check=True, env=env)
    subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"), corpus, out],
                   check=True)


if __name__ == "__main__":
    main()
