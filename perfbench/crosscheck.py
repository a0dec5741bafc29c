"""Cross-checks the query mixes' outputs against their DuckDB oracles on
the benchmark's generated tables, before their digests are recorded in
perfbench/expected.tsv.

Usage: python3 perfbench/crosscheck.py <scratch-dir>

For each workload it stages the generated tables at the workload's sizes
as single parquet files, dumps each query's result with graft.Verify,
compares it with the oracle SQL in DuckDB via tools/compare.py, and checks
that the digest of each oracle-checked result is the one
perfbench/expected.tsv records. The medallion workload's curated
drug_report is the brand report over the same generated tables, so it is
checked through q_brand_report's oracle.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def jvm(classes, main, *args):
    cmd = [build.java(), "-Xmx4g", "-XX:-UsePerfData"]
    for m in run.ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]), main, *args]
    return subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout


# extra oracle-checked queries whose digest a medallion output must equal
ALSO = {"medallion": {"q_brand_report": ("medallion", "curated.drug_report")}}


def main(scratch):
    classes = build.build()
    with open(os.path.join(build.ROOT, "perfbench", "expected.tsv")) as f:
        expected = {(w, k): "\t".join(rest) for w, k, *rest in
                    (line.rstrip("\n").split("\t") for line in f if line.strip())}
    failed = False
    for mix in run.WORKLOADS:
        data = os.path.join(scratch, mix, "data")
        out = os.path.join(scratch, mix, "verify")
        shutil.rmtree(os.path.join(scratch, mix), ignore_errors=True)
        also = ALSO.get(mix, {})
        queries = jvm(classes, "perfbench.StageTables", "stage", mix, data).split() + list(also)
        jvm(classes, "graft.Verify", data, out, *queries)
        r = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "compare.py"),
                            data, out])
        failed |= r.returncode != 0
        for line in jvm(classes, "perfbench.StageTables", "digest", out, *queries).splitlines():
            q, digest = line.split("\t", 1)
            ok = expected.get(also.get(q, (mix, q))) == digest
            failed |= not ok
            print(f"{'SAME' if ok else 'DIFF'} {mix} {q} digest {digest}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(os.path.abspath(sys.argv[1])))
