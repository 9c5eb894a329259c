"""Live kill-and-resume demonstration of the checkpointed curation CLI.

The north rule requires the pipeline to be "resumable from checkpoint
with per-partition lineage + metrics".  The store contract is unit-
tested (tests/test_store_contract.py, tests/test_pipeline.py); this
script exercises it the way a real cluster failure does, against the
PRODUCTION entry point (scripts/run_curation.py via spark-submit
--py-files):

1. BASELINE  — run the full funnel + checkpointed near-dup once,
               uninterrupted.
2. KILL      — start the identical job against a fresh checkpoint dir
               and SIGKILL the whole process group mid-SIGNATURES
               (after the extract + exact stages have committed their
               manifests, before signatures commits) — the same
               failure surface as a preempted driver.
3. RESUME    — rerun the identical command.  The committed stages must
               be REUSED (manifest byte-identity, mtime unchanged),
               the interrupted stage recomputed, and the final
               survivors table must equal the baseline row-for-row.

Writes BENCH/r7_kill_resume.json and exits non-zero on any violation.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.environ.get("KR_WORKDIR", "/tmp/kill_resume")
N_PAGES = int(os.environ.get("KR_PAGES", "300000"))
CPUS = int(os.environ.get("KR_CPUS", "16"))
# the --py-files zip is a build product: built from the source tree into
# the work dir on every run, never read from the checkout
PYFILES_ZIP = os.path.join(WORK, "pyfiles", "mashing_pumpkins_spark.zip")


def cli_cmd(out_dir: str, ckpt_dir: str, corpus: str) -> list[str]:
    return [
        "spark-submit",
        "--master",
        f"local[{CPUS}]",
        "--driver-memory",
        "32g",
        "--conf",
        f"spark.sql.shuffle.partitions={4 * CPUS}",
        "--conf",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes=16m",
        "--conf",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize=4m",
        "--py-files",
        PYFILES_ZIP,
        os.path.join(REPO, "scripts/run_curation.py"),
        "--docs",
        corpus,
        "--output",
        out_dir,
        "--id-col",
        "url",
        "--text-col",
        "text",
        "--url-col",
        "url",
        "--near-dup",
        "--tau",
        "0.8",
        "--near-dup-checkpoint-dir",
        ckpt_dir,
    ]


def launch(out_dir: str, ckpt_dir: str, corpus: str, log: str) -> subprocess.Popen:
    for d in (out_dir,):
        shutil.rmtree(d, ignore_errors=True)
    with open(log, "wb") as fh:
        return subprocess.Popen(
            cli_cmd(out_dir, ckpt_dir, corpus),
            stdout=fh,
            stderr=subprocess.STDOUT,
            cwd=REPO,
            start_new_session=True,  # own process group -> killpg reaches the JVM
        )


def manifest_snapshot(ckpt_dir: str, stages: list[str]) -> dict:
    snap = {}
    for s in stages:
        p = os.path.join(ckpt_dir, f"{s}.manifest.json")
        if os.path.exists(p):
            with open(p, "rb") as fh:
                snap[s] = {"bytes": fh.read(), "mtime_ns": os.stat(p).st_mtime_ns}
    return snap


def main() -> int:
    os.makedirs(os.path.dirname(PYFILES_ZIP), exist_ok=True)
    subprocess.run(
        [os.path.join(REPO, "scripts/make_pyfiles_zip.sh"), PYFILES_ZIP], check=True
    )
    corpus_dir = os.path.join(WORK, f"pages_{N_PAGES}")
    corpus = os.path.join(corpus_dir, "pages.parquet")
    if not os.path.exists(corpus):
        print(f"generating {N_PAGES} pages ...", flush=True)
        sys.path.insert(0, REPO)
        from mashing_pumpkins_spark.sources.synthetic import write_pages_parquet

        write_pages_parquet(corpus_dir, N_PAGES, seed=42)

    report: dict = {
        "probe": "kill -9 mid-signatures, resume, compare to uninterrupted run",
        "n_pages": N_PAGES,
        "cpus": CPUS,
        "command": " ".join(cli_cmd("<out>", "<ckpt>", "<corpus>")),
    }

    # ---- baseline -------------------------------------------------------
    out_a, ckpt_a = os.path.join(WORK, "outA"), os.path.join(WORK, "ckptA")
    shutil.rmtree(ckpt_a, ignore_errors=True)
    t0 = time.monotonic()
    p = launch(out_a, ckpt_a, corpus, os.path.join(WORK, "runA.log"))
    rc = p.wait()
    report["baseline_wall_sec"] = round(time.monotonic() - t0, 1)
    if rc != 0:
        print(f"baseline run failed rc={rc}", flush=True)
        return 2
    print(f"baseline done in {report['baseline_wall_sec']}s", flush=True)

    # ---- interrupted run ------------------------------------------------
    out_b, ckpt_b = os.path.join(WORK, "outB"), os.path.join(WORK, "ckptB")
    shutil.rmtree(ckpt_b, ignore_errors=True)
    t0 = time.monotonic()
    p = launch(out_b, ckpt_b, corpus, os.path.join(WORK, "runB1.log"))
    killed_at = None
    while p.poll() is None:
        time.sleep(2)
        have = manifest_snapshot(ckpt_b, ["extract", "exact", "signatures"])
        if "extract" in have and "exact" in have and "signatures" not in have:
            time.sleep(5)  # let the signatures stage get airborne
            if p.poll() is None and not os.path.exists(
                os.path.join(ckpt_b, "signatures.manifest.json")
            ):
                os.killpg(os.getpgid(p.pid), signal.SIGKILL)
                killed_at = round(time.monotonic() - t0, 1)
                break
    p.wait()
    if killed_at is None:
        print("never caught the signatures window — stage too fast?", flush=True)
        return 2
    report["killed_after_sec"] = killed_at
    committed = manifest_snapshot(ckpt_b, ["extract", "exact"])
    report["committed_at_kill"] = sorted(committed)
    leftover = sorted(
        e for e in os.listdir(ckpt_b) if not e.endswith(".manifest.json")
    )
    report["ckpt_entries_at_kill"] = leftover
    print(f"killed at {killed_at}s with {sorted(committed)} committed", flush=True)

    # ---- resume ---------------------------------------------------------
    t0 = time.monotonic()
    p = launch(out_b, ckpt_b, corpus, os.path.join(WORK, "runB2.log"))
    rc = p.wait()
    report["resume_wall_sec"] = round(time.monotonic() - t0, 1)
    if rc != 0:
        print(f"resume run failed rc={rc}", flush=True)
        return 2

    # committed stages must be byte-identical and untouched (reused, not redone)
    after = manifest_snapshot(ckpt_b, ["extract", "exact"])
    reused = {
        s: after[s]["bytes"] == committed[s]["bytes"]
        and after[s]["mtime_ns"] == committed[s]["mtime_ns"]
        for s in committed
    }
    report["stages_reused_untouched"] = reused

    # the interrupted stage (and everything after) must now be complete
    resumed_stages = sorted(
        e[: -len(".manifest.json")]
        for e in os.listdir(ckpt_b)
        if e.endswith(".manifest.json")
    )
    report["stages_after_resume"] = resumed_stages

    # final survivors must equal the uninterrupted run row-for-row
    con = duckdb.connect()
    diff = con.execute(
        f"""
        select count(*) from (
          select url from parquet_scan('{out_a}/survivors/*.parquet')
          union all select url from parquet_scan('{out_b}/survivors/*.parquet')
        ) group by url having count(*) <> 2
        """
    ).fetchall()
    rows_a = con.execute(
        f"select count(*) from parquet_scan('{out_a}/survivors/*.parquet')"
    ).fetchone()[0]
    rows_b = con.execute(
        f"select count(*) from parquet_scan('{out_b}/survivors/*.parquet')"
    ).fetchone()[0]
    funnel_a = con.execute(
        f"select stage, n_docs from parquet_scan('{out_a}/funnel/*.parquet') order by stage_idx"
    ).fetchall()
    funnel_b = con.execute(
        f"select stage, n_docs from parquet_scan('{out_b}/funnel/*.parquet') order by stage_idx"
    ).fetchall()
    report["survivors_baseline"] = rows_a
    report["survivors_resumed"] = rows_b
    report["survivor_url_multiset_equal"] = len(diff) == 0
    report["funnel_equal"] = funnel_a == funnel_b
    report["funnel"] = [{"stage": s, "n_docs": n} for s, n in funnel_a]

    ok = (
        all(reused.values())
        and len(reused) == 2
        and report["survivor_url_multiset_equal"]
        and rows_a == rows_b
        and report["funnel_equal"]
        and "signatures" in resumed_stages
        and "clusters" in resumed_stages
    )
    report["ok"] = ok
    out = os.path.join(REPO, "BENCH", "r7_kill_resume.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report, indent=2), flush=True)
    print(f"wrote {out}; ok={ok}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
