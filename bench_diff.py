"""Compare a bench run against a prior round's BENCH_r{N}.json.

Usage:
    python bench.py | tail -1 > /tmp/bench_now.json   # or pipe directly
    python bench_diff.py [baseline.json] [current.json]

Defaults: baseline = newest BENCH_r*.json in the repo root, current =
run bench.py in-process. Flags per-query regressions > 1.3x and prints
a one-line verdict, exit code 1 when any query regressed.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

THRESHOLD = 1.3

# queries renamed/replaced across rounds: baseline name -> current name.
# r3: the registry dedup_minhash_lsh / ann_lsh_bucketed gained extra
# oracle stages, so the bench keeps like-for-like *_pipeline probes.
RENAMED = {
    "dedup_minhash_lsh": "dedup_minhash_pipeline",
    "ann_lsh_bucketed": "ann_lsh_pipeline",
}

# r9: the inline-train ANN entries moved to DETAIL-only probes — their
# k-means training jitter (isolated spread 19-32 s on identical code,
# SCALE.md) produced phantom >1.3x flags two rounds running.  The
# steady-state *_persisted entries are the comparable numbers; the
# inline timings are still recorded, shown here for continuity but
# NEVER ratioed.
DEMOTED = {
    "ann_pq_topk_x10": "ann_pq_topk_inline_x10",
    "ann_pq_rerank_x10": "ann_pq_rerank_inline_x10",
    "ann_ivfpq_topk_x10": "ann_ivfpq_topk_inline_x10",
}

# r6: sub-2s entries moved to the x10/x100 corpora (the corpus column
# of bench.py ENTRIES) so the measured ±50% sub-second host
# noise can't swamp them; numbers across different corpora are NOT
# comparable, so moved entries are reported, never ratioed.
MOVED_SUFFIXES = ("_x10", "_x100")


_META_KEYS = {"metric", "value", "sf", "n", "rc", "cpus", "repeats"}


def _parse_tail(tail: str) -> dict:
    """Recover per-query timings from a driver tail capture whose JSON
    line outgrew the 2,000-char window (BENCH_r07.json shipped with
    parsed: null).  The tail is truncated at the FRONT, so json.loads
    can't run; `"name": seconds` pairs regex out instead (a leading
    pair truncated mid-name drops out naturally)."""
    pairs = re.findall(r'"([A-Za-z][A-Za-z0-9_]*)":\s*([0-9]+(?:\.[0-9]+)?)',
                       tail)
    return {k: float(v) for k, v in pairs if k not in _META_KEYS}


def _merge_detail(queries: dict, base_dir: str) -> dict:
    """Fold BENCH_DETAIL.json's probe timings (split out of the printed
    line in round 8 to keep it under the tail capture) into the
    comparison set."""
    dp = os.path.join(base_dir, "BENCH_DETAIL.json")
    if os.path.isfile(dp):
        with open(dp) as f:
            detail = json.load(f)
        for k, v in detail.get("probes", {}).items():
            queries.setdefault(k, v)
    return queries


def _load_baseline(path: str | None) -> dict:
    if path is None:
        cands = sorted(
            glob.glob(os.path.join(os.path.dirname(__file__) or ".", "BENCH_r*.json")),
            key=lambda p: int(re.search(r"r(\d+)", p).group(1)),
        )
        if not cands:
            raise SystemExit("no BENCH_r*.json baseline found")
        path = cands[-1]
    with open(path) as f:
        d = json.load(f)
    parsed = d.get("parsed", d)
    if parsed is None:
        queries = _parse_tail(d.get("tail", ""))
        if not queries:
            raise SystemExit(f"{path}: parsed is null and tail regex "
                             "recovered nothing")
        return {"name": os.path.basename(path) + " (tail-recovered)",
                "queries": queries, "total": sum(queries.values())}
    return {"name": os.path.basename(path), "queries": parsed["queries"],
            "total": parsed["value"]}


def _load_current(path: str | None) -> dict:
    here = os.path.dirname(os.path.abspath(__file__))
    if path is not None:
        with open(path) as f:
            d = json.load(f)
        d = d.get("parsed", d)
        if d is None:
            with open(path) as f:
                raw = json.load(f)
            q = _parse_tail(raw.get("tail", ""))
            return {"queries": q, "total": sum(q.values())}
        # BENCH_r{N}.json lines exclude probes since r8; the repo's
        # BENCH_DETAIL.json belongs to the most recent LOCAL run, not
        # necessarily to the capture passed here — so probe timings
        # are NOT merged for file-based currents (they'd pair numbers
        # from different runs); probes compare only on in-process runs
        return {"queries": dict(d["queries"]), "total": d["value"]}
    out = subprocess.run(
        [sys.executable, os.path.join(here, "bench.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    d = json.loads(out)
    # the in-process run just rewrote BENCH_DETAIL.json — safe to merge
    return {"queries": _merge_detail(dict(d["queries"]), here),
            "total": d["value"]}


def main() -> int:
    base = _load_baseline(sys.argv[1] if len(sys.argv) > 1 else None)
    cur = _load_current(sys.argv[2] if len(sys.argv) > 2 else None)
    ratios: dict[str, float] = {}
    rows = []
    for q, t0 in sorted(base["queries"].items()):
        if q in DEMOTED:
            t1 = cur["queries"].get(DEMOTED[q])
            shown = f"{t1:7.2f}s" if t1 is not None else "(probe n/a)"
            rows.append(f"  {q:35s} {t0:7.2f}s -> {shown} as "
                        f"{DEMOTED[q]} (train-jitter class; "
                        "DETAIL-only, not ratioed)")
            continue
        t1 = cur["queries"].get(q)
        if t1 is None and q in RENAMED:
            t1 = cur["queries"].get(RENAMED[q])
        if t1 is None:
            moved = next((q + s for s in MOVED_SUFFIXES
                          if (q + s) in cur["queries"]), None)
            if moved is None:
                # the base name may itself carry a suffix (x10 -> x100)
                stem = next((q[: -len(s)] for s in MOVED_SUFFIXES
                             if q.endswith(s)), None)
                if stem is not None:
                    moved = next(
                        (c for c in ([stem] + [stem + s
                                               for s in MOVED_SUFFIXES])
                         if c != q and c in cur["queries"]), None)
            if moved is not None:
                rows.append(f"  {q:35s} {t0:7.2f}s -> "
                            f"{cur['queries'][moved]:7.2f}s as {moved} "
                            f"(different corpus, not comparable)")
                continue
        if t1 is None:
            rows.append(f"  {q:35s} {t0:7.2f}s -> (missing)")
            continue
        ratio = t1 / t0 if t0 else float("inf")
        ratios[q] = ratio
        rows.append(f"  {q:35s} {t0:7.2f}s -> {t1:7.2f}s  ({ratio:5.2f}x)")
    print(f"baseline {base['name']}: total {base['total']:.2f}s -> {cur['total']:.2f}s")
    print("\n".join(rows))
    # Host factor: baselines come from earlier sessions on a shared
    # box that reboots between rounds; a UNIFORM shift of every query
    # (round-5 observation: median 1.3x across queries whose code
    # never changed, with back-to-back same-code runs 1.14x apart) is
    # the machine, not the code.  The median ratio estimates that
    # factor; real regressions are queries that moved well beyond it.
    # Both views are printed — a genuinely global code regression
    # (e.g. a session-config mistake) would show up as a host factor
    # far above the boot-to-boot band, so it can't hide here.
    med = sorted(ratios.values())[len(ratios) // 2] if ratios else 1.0
    print(f"uniform host factor (median ratio): {med:.2f}x")
    regressions = [(q, r) for q, r in sorted(ratios.items())
                   if r > THRESHOLD * max(1.0, med)]
    improvements = [(q, r) for q, r in sorted(ratios.items())
                    if r < min(1.0, med) / THRESHOLD]
    if regressions:
        print(f"REGRESSIONS (> {THRESHOLD}x beyond host factor): "
              + ", ".join(f"{q} {r:.2f}x" for q, r in regressions))
    if improvements:
        print(f"improvements: " + ", ".join(f"{q} {r:.2f}x" for q, r in improvements))
    if not regressions:
        print("OK: no per-query regression above threshold")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
