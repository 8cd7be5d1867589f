"""Self-test of the benchmark at sf0.001 size.

    python3 perfbench/selftest.py

Checks, from the root of a checkout:

1. every workload, untraced and traced, prints a result line with exactly
   the keys ``correct attempted failed metrics`` and every metric that
   BENCHMARK.json names for that mode, with its unit, and reports no
   failure on the current tree;
2. a result table with one changed text byte and one dropped url counts
   two failed urls, where the untouched table counts none;
3. a wrong query digest counts a failed query, the right one none;
4. without the program next to it, the benchmark exits non-zero and
   prints no result.

Exits non-zero when any check fails.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

SEED = 7
failures: list[str] = []


def check(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'}  {what}", flush=True)
    if not ok:
        failures.append(what)


def run_bench(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result_lines(bench: dict) -> None:
    expected = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in bench["workloads"]:
        for trace in (0, 1):
            tag = f"{w['name']} --trace {trace}"
            p = run_bench(ROOT, w["name"], trace)
            if p.returncode != 0:
                check(False, f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            want = {m["name"]: m["unit"] for m in expected[trace]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{tag}: every named metric with its unit")
            check(all(isinstance(v["value"], float) for v in res["metrics"].values()), f"{tag}: numeric values")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0, f"{tag}: no failed operation")


def check_corrupted_results() -> None:
    import inputs
    from extraction import TINY, Extraction, count_failures

    spec = TINY["crawl_cold"]
    work = ROOT / ".perfbench"
    data = inputs.page_inputs(ROOT, work, spec, SEED, procs=1)  # built by the runs above
    expected = data.expected.rename(columns={"provider": "provider_exp"})
    got = Extraction(None, spec, data, work).results_frame()  # the last pass's output
    check(count_failures(expected, got) == 0, "untouched result table: 0 failed urls")
    bad = got.copy()
    t = bad.at[0, "extracted_text"]
    bad.at[0, "extracted_text"] = t[:-1] + chr(ord(t[-1]) ^ 1)
    bad = bad.drop(index=1)
    check(count_failures(expected, bad) == 2, "one changed text byte + one dropped url: 2 failed urls")


def check_wrong_digest() -> None:
    import inputs
    import ledger
    import spark_session

    work = ROOT / ".perfbench"
    spark_session.configure_environment(ROOT, work)
    sf_dir = inputs.replica(ROOT, work, SEED, 500, 200)
    digests = ledger.oracle_digests(sf_dir)
    q = "cms_heavy_hitters"
    spark, _, _ = spark_session.start(work)
    try:
        _, right = ledger.relational_ledger(spark, sf_dir, digests, [q])
        _, wrong = ledger.relational_ledger(spark, sf_dir, {q: "0" * 32}, [q])
    finally:
        spark_session.stop(spark)
    check(right == 0 and wrong == 1, "wrong query digest: 1 failed query, right digest: 0")


def check_without_program() -> None:
    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(bare, "crawl_cold", 0)
    check(p.returncode != 0 and not p.stdout.strip(), "without the program: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_without_program()
    check_result_lines(bench)
    check_corrupted_results()
    check_wrong_digest()
    print(f"\n{'all checks pass' if not failures else f'{len(failures)} check(s) failed'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
