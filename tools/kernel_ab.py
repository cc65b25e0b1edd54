"""A/B the extraction kernel of two checkouts, interleaved in time.

    python tools/kernel_ab.py <checkout-a> <checkout-b> [--seeds 1 7 11]
                              [--n 960] [--rounds 5]

Each checkout's `extract_filing` runs in its own worker process (both
packages are named `edgar_crawler_spark`, so they cannot share one).
The tool generates the synthetic filings once — `synth.make_filing_body`
with the form mix of perfbench's `extract_stored` (forms cycle by index)
— and then alternates the workers over them, A-B then B-A, one pass of
all filings at a time. Every pass asserts that both sides return
identical JSON payloads (`json.dumps(..., indent=4, ensure_ascii=False)`,
as `extract_items_job` renders them) for every filing.

The host's speed drifts by tens of percent within a minute, so kernel
timings from separate runs cannot size a change of a few tens of
percent; interleaved passes see the same drift on both sides. Prints
each side's ms/filing median and quartiles per seed and overall, and
how many paired passes B won.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _filings(seed: int, n: int) -> list[tuple[str, dict]]:
    sys.path.insert(0, ROOT)
    from edgar_crawler_spark.synth import FORM_TYPES, make_filing_body

    out = []
    for i in range(n):
        form = FORM_TYPES[i % len(FORM_TYPES)]
        md = {
            "CIK": str(1000 + i), "Company": f"SYNTH CORP {i}", "Type": form,
            "Date": "2015-06-30", "filename": f"f{i}.htm",
        }
        out.append((make_filing_body(seed, i, form), md))
    return out


def _worker(checkout: str, inputs: str) -> None:
    """Serve passes on stdin/stdout: read a seed, run the kernel over
    that seed's filings, answer with the wall time and payload md5s."""
    sys.path.insert(0, os.path.abspath(checkout))
    import edgar_crawler_spark
    from edgar_crawler_spark.extraction import ExtractionOptions, extract_filing

    pkg = os.path.dirname(os.path.abspath(edgar_crawler_spark.__file__))
    if os.path.dirname(pkg) != os.path.abspath(checkout):
        raise SystemExit(f"imported {pkg}, not the checkout {checkout}")
    with open(inputs, "rb") as f:
        filings = pickle.load(f)
    opts = ExtractionOptions()
    for line in sys.stdin:
        batch = filings[int(line)]
        t0 = time.perf_counter()
        results = [extract_filing(body, md, opts) for body, md in batch]
        elapsed = time.perf_counter() - t0
        digests = [
            hashlib.md5(
                json.dumps(r, indent=4, ensure_ascii=False).encode("utf-8")
            ).hexdigest()
            for r in results
        ]
        print(json.dumps({"s": elapsed, "md5": digests}), flush=True)


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", nargs="?", help="checkout A (the baseline)")
    ap.add_argument("b", nargs="?", help="checkout B (the change)")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 7, 11])
    ap.add_argument("--n", type=int, default=960, help="filings per seed")
    ap.add_argument("--rounds", type=int, default=5, help="A/B pairs per seed")
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    ap.add_argument("--inputs", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        _worker(args.worker, args.inputs)
        return 0
    if not (args.a and args.b):
        ap.error("two checkouts are required")

    with tempfile.TemporaryDirectory() as tmp:
        inputs = os.path.join(tmp, "filings.pickle")
        with open(inputs, "wb") as f:
            pickle.dump({s: _filings(s, args.n) for s in args.seeds}, f)
        sides = {
            name: subprocess.Popen(
                [sys.executable, os.path.abspath(__file__),
                 "--worker", path, "--inputs", inputs],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            )
            for name, path in (("A", args.a), ("B", args.b))
        }

        def run(name: str, seed: int) -> dict:
            proc = sides[name]
            proc.stdin.write(f"{seed}\n")
            proc.stdin.flush()
            line = proc.stdout.readline()
            if not line:
                raise SystemExit(f"worker {name} exited")
            return json.loads(line)

        ms: dict[str, dict[int, list[float]]] = {"A": {}, "B": {}}
        wins = pairs = 0
        try:
            for seed in args.seeds:
                for name in "AB":  # warm-up: compile the regex caches
                    run(name, seed)
                for r in range(args.rounds):
                    order = "AB" if r % 2 == 0 else "BA"
                    got = {name: run(name, seed) for name in order}
                    bad = sum(
                        x != y for x, y in zip(got["A"]["md5"], got["B"]["md5"])
                    )
                    if bad:
                        raise SystemExit(
                            f"seed {seed}: {bad} of {args.n} payloads differ"
                        )
                    for name in "AB":
                        ms[name].setdefault(seed, []).append(
                            1e3 * got[name]["s"] / args.n
                        )
                    wins += got["B"]["s"] < got["A"]["s"]
                    pairs += 1
        finally:
            for proc in sides.values():
                proc.stdin.close()
                proc.wait()

    print(f"identical payloads: {len(args.seeds)} seeds x {args.n} filings, "
          f"{pairs} pairs")
    print(f"{'seed':>6} {'side':>4} {'q1':>7} {'median':>7} {'q3':>7}  ms/filing")
    for seed in [*args.seeds, "all"]:
        for name in "AB":
            xs = (sum(ms[name].values(), []) if seed == "all"
                  else ms[name][seed])
            q1, q2, q3 = _quartiles(xs)
            print(f"{seed:>6} {name:>4} {q1:7.3f} {q2:7.3f} {q3:7.3f}")
    print(f"B faster in {wins}/{pairs} pairs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
