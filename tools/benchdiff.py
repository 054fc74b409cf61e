#!/usr/bin/env python3
"""Round-over-round bench delta classifier (r10 VERDICT #5).

Reads two bench artifacts — each either a rich BENCH_DETAIL.json (written by
graft.Bench next to the repo) or a driver BENCH_rN.json (whose stdout line,
with the per-query map, lives in its `tail` string) — and classifies every
per-query delta so the manual "is this regression real?" adjudication of
rounds 8-10 becomes mechanical:

  stable        within --band (default 1.3x) after calibration normalization
  polluted      flagged polluted on either side: carries no regression signal
  session       beyond band, but the artifact itself shows load evidence
                (per-query micro-probe above --micro-x times the session's
                idle base, run spread above --spread, or an end-of-suite
                retry) — the class r8-r10 adjudicated as session-level shift
  sub-second    beyond band with BOTH sides below --floor seconds: below the
                documented noise floor for this suite, not code-attributable
  code-suspect  beyond band with no load evidence: look at --changed / git

Per-query load fields (loadavg, micro, spread, runs) only exist in
BENCH_DETAIL files; with two driver artifacts the tool still classifies
stable/polluted/sub-second/beyond-band but cannot see load evidence, and says
so. Pass --changed "file1,file2" (e.g. from `git diff --name-only rA..rB`)
to annotate the verdict line; the tool does not guess query->file ownership.

Usage:
  python3 tools/benchdiff.py BENCH_r10.json BENCH_DETAIL.json
  python3 tools/benchdiff.py old.json new.json --band 1.3 --floor 1.0 \
      --changed "$(git diff --name-only r10..HEAD -- src/main | tr '\n' ',')"
"""
import argparse, json, math, re, sys


def load_artifact(path):
    """-> (meta, {qshort: record}) where record always has 'value' and
    'value_norm'; rich records add spread/polluted/loadavg/micro/runs."""
    raw = json.load(open(path))
    if "__calib" in raw:  # rich BENCH_DETAIL.json
        calib = raw["__calib"]
        meta = {
            "kind": "detail",
            "factor": calib.get("factor", 1.0),
            "pinned": calib.get("pinned", False),
            "micro_base": raw.get("__micro_base", None),
        }
        qs = {}
        for name, rec in raw.items():
            if name.startswith("__") or rec.get("failed"):
                continue  # a failed query carries no timing
            short = name.split("_")[0]
            qs[short] = dict(rec)
            qs[short].setdefault("value_norm", rec["value"] / meta["factor"])
            qs[short]["name"] = name
        return meta, qs
    # driver BENCH_rN.json: the bench stdout line is embedded in `tail`.
    # The driver keeps only the LAST ~2000 chars, so the line's head (and
    # with it `{"metric":`) may be cut off — extract fields independently.
    tail = raw.get("tail", "") if isinstance(raw, dict) else ""
    qm = re.search(r'"queries":\{([^}]*)\}', tail)
    if not qm:
        sys.exit(f"{path}: neither a BENCH_DETAIL file nor a driver "
                 f"artifact with a queries map in `tail`")
    fm = re.search(r'"factor":([0-9.]+)', tail)
    factor = float(fm.group(1)) if fm else 1.0
    pm = re.search(r'"pinned":(true|false)', tail)
    lm = re.search(r'"polluted":\[([^\]]*)\]', tail)
    polluted = set(re.findall(r'"(q[^"+]+)"', lm.group(1))) if lm else set()
    # the stdout line caps the polluted list at 4 names + a '"+N"' sentinel
    # (Bench.scala) — past the cap, queries LOSE their polluted flag here
    # and can read as code-suspect; say so instead of silently misclassing
    truncated = bool(lm and re.search(r'"\+\d+"', lm.group(1)))
    meta = {"kind": "driver", "factor": factor,
            "pinned": pm.group(1) == "true" if pm else False,
            "micro_base": None, "polluted_truncated": truncated}
    qs = {}
    for short, v in re.findall(r'"(q\w+)":([0-9.]+)', qm.group(1)):
        qs[short] = {"name": short, "value": float(v),
                     "value_norm": float(v) / factor,
                     "polluted": short in polluted}
    return meta, qs


def classify(old, new, args, micro_base):
    if old is None:
        return "new", None
    if new is None:
        return "removed", None
    # both sides floored: r3-rounding can serialize sub-0.5 ms values as
    # 0.0, and 1/ratio below must never divide by zero
    ratio = max(new["value_norm"], 1e-9) / max(old["value_norm"], 1e-9)
    if old.get("polluted") or new.get("polluted"):
        return "polluted", ratio
    if max(ratio, 1 / ratio) <= args.band:
        return "stable", ratio
    # beyond band: look for load evidence on the side that got slower
    side = new if ratio > 1 else old
    evidence = []
    if side.get("spread", 0) > args.spread:
        evidence.append(f"spread {side['spread']:.2f}")
    if micro_base and side.get("micro") and side["micro"] > args.micro_x * micro_base:
        evidence.append(f"micro {side['micro']:.3f} vs base {micro_base:.3f}")
    if side.get("retried"):
        evidence.append("end-of-suite retry")
    if evidence:
        return "session", ratio
    # normalized values: the band/ratio classes and the printed table are
    # all calibration-normalized, so the floor must be too — with a factor
    # far from 1.0 a raw-value floor would disagree with the table
    if old["value_norm"] < args.floor and new["value_norm"] < args.floor:
        return "sub-second", ratio
    return "code-suspect", ratio


def main():
    ap = argparse.ArgumentParser(description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("old"); ap.add_argument("new")
    ap.add_argument("--band", type=float, default=1.3,
                    help="stable if ratio within this (default 1.3)")
    ap.add_argument("--floor", type=float, default=1.0,
                    help="both sides under this many NORMALIZED seconds "
                         "-> sub-second (same basis as the table/band)")
    ap.add_argument("--spread", type=float, default=1.5,
                    help="run spread above this counts as load evidence")
    ap.add_argument("--micro-x", type=float, default=1.5, dest="micro_x",
                    help="per-query micro probe above this x idle base "
                         "counts as load evidence")
    ap.add_argument("--changed", default="",
                    help="comma-separated changed source files (annotation)")
    args = ap.parse_args()

    ometa, oq = load_artifact(args.old)
    nmeta, nq = load_artifact(args.new)
    micro_base = nmeta.get("micro_base") or ometa.get("micro_base")
    if ometa["kind"] == "driver" and nmeta["kind"] == "driver":
        print("# NOTE: both sides are driver artifacts - no per-query load "
              "fields; 'session' class unavailable.\n")
    for which, m in (("old", ometa), ("new", nmeta)):
        if m.get("polluted_truncated"):
            print(f"# NOTE: {which} artifact's polluted list is truncated "
                  f"('+N' sentinel) - 5th+ polluted queries lost their flag "
                  f"and may misclassify as code-suspect.\n")

    rows, counts = [], {}
    for short in sorted(set(oq) | set(nq), key=lambda s: (len(s), s)):
        o, n = oq.get(short), nq.get(short)
        verdict, ratio = classify(o, n, args, micro_base)
        counts[verdict] = counts.get(verdict, 0) + 1
        rows.append((short, o, n, verdict, ratio))

    print(f"# benchdiff {args.old} -> {args.new}")
    print(f"# factors: old {ometa['factor']:.3f} (pinned={ometa['pinned']}), "
          f"new {nmeta['factor']:.3f} (pinned={nmeta['pinned']}); "
          f"values below are calibration-normalized seconds")
    if args.changed:
        print(f"# changed sources: {args.changed.strip(',')}")
    print(f"# verdict counts: " +
          ", ".join(f"{k}={v}" for k, v in sorted(counts.items())) + "\n")
    print(f"| query | old | new | ratio | verdict |")
    print(f"|---|---|---|---|---|")
    interesting = [r for r in rows if r[3] not in ("stable",)]
    # non-stable first, each group by |log ratio| descending
    def key(r):
        return -abs(math.log(r[4])) if r[4] else 0
    for short, o, n, verdict, ratio in (
            sorted(interesting, key=key) +
            sorted((r for r in rows if r[3] == "stable"), key=key)):
        ov = f"{o['value_norm']:.3f}" if o else "-"
        nv = f"{n['value_norm']:.3f}" if n else "-"
        rv = f"{ratio:.2f}x" if ratio else "-"
        print(f"| {short} | {ov} | {nv} | {rv} | {verdict} |")
    tot_o = sum(o["value_norm"] for o in oq.values())
    tot_n = sum(n["value_norm"] for n in nq.values())
    common = set(oq) & set(nq)
    co = sum(oq[s]["value_norm"] for s in common)
    cn = sum(nq[s]["value_norm"] for s in common)
    print(f"\n# totals (normalized): old {tot_o:.1f}s ({len(oq)} q), "
          f"new {tot_n:.1f}s ({len(nq)} q); common {len(common)} q: "
          f"{co:.1f}s -> {cn:.1f}s ({cn / max(co, 1e-9):.3f}x)")


if __name__ == "__main__":
    main()
