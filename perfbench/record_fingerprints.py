"""Record the expected ``crawl_to_shards`` output fingerprint per seed.

    python3 perfbench/record_fingerprints.py --seeds 0-49

Run from the repository root. Runs one untraced crawl pass per seed in
one Spark session (the benchmark's session config) and merges
``{seed: fingerprint}`` into ``perfbench/fingerprints.json``, which the
benchmark's ``crawl.fingerprint_recorded`` check reads. Run it only when
a change to the pipeline's output is intended. ``--check`` compares
instead of writing and exits 1 on a mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def seed_range(text: str) -> list[int]:
    first, _, last = text.partition("-")
    return list(range(int(first), int(last or first) + 1))


def main(argv) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seed_range, required=True)
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, run.ROOT)
    import workloads
    from spans import Tracer

    work = os.path.join(run.ROOT, ".perfbench", "work", f"fingerprints-{os.getpid()}")
    run.prepare_env(work)
    wl = workloads.CrawlToShards()
    with open(workloads.FINGERPRINTS) as fh:
        recorded = json.load(fh)
    mismatched = []
    spark = run.start_session(
        run.session_config(work, os.cpu_count(), run.host()["ram_gb"]), "fingerprints"
    )
    try:
        tr = Tracer(spark, "fingerprints", enabled=False)
        for seed in args.seeds:
            ctx = run.Ctx(spark, seed, os.path.join(work, str(seed)))
            inp = wl.prepare(ctx)
            res = wl.iterate(ctx, tr, inp)
            fingerprint = workloads.crawl_fingerprint(res["out"])
            shutil.rmtree(ctx.work, ignore_errors=True)
            print(seed, fingerprint, f"{res['wall']:.1f}s", flush=True)
            if args.check and recorded.get(str(seed)) != fingerprint:
                mismatched.append(seed)
            recorded[str(seed)] = fingerprint
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.check:
        print("mismatched seeds:", mismatched)
        return 1 if mismatched else 0
    with open(workloads.FINGERPRINTS, "w") as fh:
        json.dump(dict(sorted(recorded.items(), key=lambda kv: int(kv[0]))), fh,
                  indent=0)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
