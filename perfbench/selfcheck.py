"""Self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

Run from the repository root. For every workload it checks that

* a run prints every end-to-end metric, positive and with its unit, and a
  traced run every per-layer metric with its unit, with span self-times
  plus the uncovered remainder adding up to the traced pass time;
* a deliberately corrupted reference makes every checked pass count as
  failed;
* the same seed gives the same input digest and another seed another one;
* two runs with the same seed give the same output digest of the parts
  that have no pandas reference (models, corpus).

Exits 0 when all checks hold and prints one line per failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, EXTRAS, MEASURES, SPANS  # noqa: E402


def _run(workload: str, seed: int, *extra: str) -> tuple[dict, dict]:
    """One tiny run: (info lines by key, result object)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--size", "tiny", *extra],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    info = {}
    for line in out[:-1]:
        info.update(json.loads(line))
    return info, json.loads(out[-1])


def _units_ok(metrics: dict, want: dict[str, str], positive: bool) -> bool:
    return set(metrics) == set(want) and all(
        m["unit"] == want[k] and (m["value"] > 0 or not positive)
        for k, m in metrics.items()
    )


def main() -> int:
    layer_units = {
        f"{span}.{m}": unit
        for spans in SPANS.values() for span in spans
        for m, unit in MEASURES.items()
    } | EXTRAS
    failures = []

    def expect(ok: bool, what: str) -> None:
        if not ok:
            failures.append(what)
            print(f"FAIL {what}", flush=True)

    for w in sorted(SPANS):
        info, res = _run(w, 1)
        expect(res["correct"] and res["failed"] == 0, f"{w}: clean run is correct")
        expect(_units_ok(res["metrics"], END_TO_END, positive=True),
               f"{w}: every end-to-end metric printed, positive, with its unit")

        tinfo, tres = _run(w, 1, "--trace", "1")
        expect(_units_ok(tres["metrics"], layer_units, positive=False),
               f"{w}: every per-layer metric printed with its unit")
        expect(tinfo["reconcile_max_abs_s"] is not None
               and tinfo["reconcile_max_abs_s"] < 1e-6,
               f"{w}: span self-times plus uncovered time equal the pass time")
        expect(tinfo["input"]["digest"] == info["input"]["digest"],
               f"{w}: same seed gives the same input digest")
        expect("output_digest" in info
               and tinfo.get("output_digest") == info["output_digest"],
               f"{w}: same seed gives the same output digest")

        oinfo, _ = _run(w, 2)
        expect(oinfo["input"]["digest"] != info["input"]["digest"],
               f"{w}: another seed gives another input digest")

        _, cres = _run(w, 1, "--corrupt-reference")
        expect(not cres["correct"] and cres["failed"] == cres["attempted"],
               f"{w}: a corrupted reference fails every pass")
    print(json.dumps({"selfcheck": "ok" if not failures else "failed",
                      "failures": len(failures)}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
