"""Per-query benchmark delta: compare two bench result files and emit a
markdown table (stdout) flagging regressions.

Usage: python tools/bench_delta.py OLD.json NEW.json [threshold]

Accepts either the driver's wrapper format ({"parsed": {"queries": ...}})
or bench.py's raw one-line JSON. When BOTH files carry a same-boot canary
scale (bench.py's CANARY set, VERDICT r9 task 2), every ratio is also
reported host-normalized — ratio / (new_scale / old_scale) — and the
regression gate runs on the NORMALIZED numbers, so a 1.3x-slower host no
longer reads as 300 queries regressing. When both artifacts additionally
carry POSITIONED canary samples + a query_order (bench.py's interleaved
canary, VERDICT r11 task 3), the factor is computed PER QUERY by linear
interpolation between the samples bracketing the position each query ran
at — host weather that swings 2x within one run (the r10<->r11 false
flags on untouched code) normalizes per window instead of smearing one
scalar across the suite. Without a canary in the old file (pre-r10
artifacts) the gate falls back to raw ratios, stated in the output. Exit code 1 on any gated regression above `threshold`x
(default 2.0) — the round gate from VERDICT item 6.

Normalization blind spot and its closure (ADVICE r10, VERDICT r10 task 1):
the canary queries execute under the same engine code as everything else,
so an ENGINE-WIDE regression (a config/codegen change slowing every
scan/agg/join) inflates the canary scale and normalizes every per-query
ratio back under the threshold — the normalized gate alone would pass
silently. A large host factor is indistinguishable from exactly that
failure, so it can never be waved through: the gate REFUSES (exit 1) when

  * either side's canary scale exceeds CANARY_IDLE_MAX (absolute seconds;
    an idle host on this container measures ~1.0–1.15 s, see
    docs/BENCH_DELTA.md) — a contended artifact or an engine-wide slowdown
    both land here and both demand a re-run / investigation, or
  * the host factor new/old falls outside [1/HOST_FACTOR_MAX,
    HOST_FACTOR_MAX].

The comparison is also refused outright when the two artifacts record a
different `cpus` or `sf` (a field absent on either side is not compared).

`--allow-contended` downgrades both canary refusals to a loud warning (for
forensics on artifacts that cannot be re-run); per-query regressions still
gate on the normalized ratio in that mode, stated in the output.
"""

from __future__ import annotations

import json
import sys

#: Absolute canary-scale ceiling for a trustworthy artifact (sum of the 5
#: canary queries' min-of-3 seconds). Idle-host runs on this container
#: measure 1.0-1.15 s; the r10 contended boot measured 1.41 s.
CANARY_IDLE_MAX = 1.20

#: Widest host factor (new_scale / old_scale) the gate will normalize
#: across. Beyond this, "slow host" and "engine-wide regression" cannot be
#: told apart from the artifacts alone.
HOST_FACTOR_MAX = 1.25


def _load(path: str) -> dict:
    with open(path) as f:
        data = json.load(f)
    if "parsed" in data:
        data = data["parsed"]
    return data


def _canary_scale(data: dict) -> float | None:
    """None means NO canary recorded (pre-r10 artifact). A PRESENT but
    non-positive scale is returned as-is so the trust gate can REFUSE the
    malformed artifact — the previous truthiness check (ADVICE r11) made
    a zeroed scale indistinguishable from "no canary" and silently
    dropped both the trust gate and host normalization for it."""
    c = data.get("canary")
    if isinstance(c, dict) and "scale" in c and c["scale"] is not None:
        return float(c["scale"])
    if "canary_scale" in data and data["canary_scale"] is not None:
        return float(data["canary_scale"])
    return None


def _canary_samples(data: dict) -> list[tuple[float, float]] | None:
    """Positioned canary samples [(frac, scale), ...] sorted by frac,
    where frac is the fraction of the headline set completed when the
    sample ran (VERDICT r11 task 3: a single whole-run scalar cannot
    normalize host weather that swings 2x WITHIN one run — the r10<->r11
    comparison flagged two untouched queries that way).

    Sources, best first: the interleaved `canary.samples` bench.py now
    records; else the legacy pre/post leg sums as endpoint samples (two
    points is a coarse but real window signal). None when neither exists
    — callers fall back to the whole-run scalar."""
    c = data.get("canary")
    if not isinstance(c, dict):
        return None
    n = max(len(data.get("queries", {})), 1)
    if isinstance(c.get("samples"), list) and c["samples"]:
        out = [
            (float(s["pos"]) / n, float(s["scale"]))
            for s in c["samples"]
            if s.get("scale") is not None
        ]
        if out:
            return sorted(out)
    pre, post = c.get("pre"), c.get("post")
    if isinstance(pre, dict) and pre and isinstance(post, dict) and post:
        return [(0.0, sum(pre.values())), (1.0, sum(post.values()))]
    return None


def _scale_at(samples: list[tuple[float, float]], frac: float) -> float:
    """Canary scale at headline position `frac`, linearly interpolated
    between the bracketing samples (clamped at the ends)."""
    if frac <= samples[0][0]:
        return samples[0][1]
    if frac >= samples[-1][0]:
        return samples[-1][1]
    for (f0, s0), (f1, s1) in zip(samples, samples[1:]):
        if f0 <= frac <= f1:
            if f1 == f0:
                return s1
            return s0 + (s1 - s0) * (frac - f0) / (f1 - f0)
    return samples[-1][1]  # unreachable with sorted samples


def _positions(data: dict) -> dict[str, float] | None:
    """name -> fractional headline position, from the artifact's
    `query_order` (recorded by bench.py alongside the interleaved
    samples; BENCH_FULL's sorted JSON keys destroy insertion order, so
    the order must ride explicitly). None for legacy artifacts."""
    order = data.get("query_order")
    if not isinstance(order, list) or not order:
        return None
    n = max(len(order), 1)
    return {name: i / n for i, name in enumerate(order)}


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--allow-contended"]
    allow_contended = "--allow-contended" in sys.argv[1:]
    old_path, new_path = argv[0], argv[1]
    threshold = float(argv[2]) if len(argv) > 2 else 2.0
    old_data, new_data = _load(old_path), _load(new_path)
    # Timings from different core counts or scale factors are different
    # experiments: no canary normalizes across them.
    mismatched = [
        f"{key} differs: old {old_data[key]}, new {new_data[key]}"
        for key in ("cpus", "sf")
        if key in old_data and key in new_data and old_data[key] != new_data[key]
    ]
    if mismatched:
        for msg in mismatched:
            print(f"REFUSED: {msg} — re-run both sides with the same cpus and sf")
        return 1
    old, new = old_data.get("queries", {}), new_data.get("queries", {})

    old_scale, new_scale = _canary_scale(old_data), _canary_scale(new_data)
    host = None
    if old_scale and new_scale and old_scale > 0 and new_scale > 0:
        host = new_scale / old_scale

    # Per-query (windowed) normalization inputs: positioned canary samples
    # plus each query's headline position. Active only when BOTH sides
    # carry both; otherwise the whole-run scalar applies as before.
    old_samples, new_samples = _canary_samples(old_data), _canary_samples(new_data)
    old_pos, new_pos = _positions(old_data), _positions(new_data)
    windowed = bool(old_samples and new_samples and old_pos and new_pos)

    # Trust gate BEFORE normalization: a contended canary (or one inflated
    # by an engine-wide regression — indistinguishable from here) makes the
    # normalized ratios meaningless. Refuse rather than pass silently.
    trust_failures: list[str] = []
    for side, scale in (("old", old_scale), ("new", new_scale)):
        if scale is not None and scale <= 0:
            trust_failures.append(
                f"{side} canary scale {scale} is non-positive — malformed "
                f"artifact (a real canary run cannot sum to <= 0); refusing "
                f"rather than silently skipping the trust gate"
            )
        elif scale and scale > CANARY_IDLE_MAX:
            trust_failures.append(
                f"{side} canary scale {scale:.3f}s > CANARY_IDLE_MAX "
                f"{CANARY_IDLE_MAX}s — contended host OR engine-wide "
                f"regression; re-run on an idle host"
            )
    if host and not (1 / HOST_FACTOR_MAX <= host <= HOST_FACTOR_MAX):
        trust_failures.append(
            f"host factor {host:.2f}x outside "
            f"[{1 / HOST_FACTOR_MAX:.2f}, {HOST_FACTOR_MAX}] — too wide to "
            f"normalize across"
        )
    for msg in trust_failures:
        print(f"{'WARNING' if allow_contended else 'REFUSED'}: {msg}")

    rows = []
    regressions = []
    for name in sorted(set(old) | set(new)):
        o, n = old.get(name), new.get(name)
        if o is not None and n is not None:
            if o <= 0:
                # a 0.000s old timing carries no signal — report, don't gate
                rows.append((name, f"{o:.3f}", f"{n:.3f}", "n/a (old=0)", ""))
                continue
            ratio = n / o
            # Local (windowed) host factor when positioned samples exist
            # on both sides: each side's canary scale interpolated at THE
            # POSITION this query ran, so a mid-run weather swing
            # normalizes per window instead of smearing one scalar across
            # 300+ queries. Falls back to the run-level factor per query
            # (a query absent from either order list gets the scalar).
            q_host = host
            if windowed and name in old_pos and name in new_pos:
                o_sc = _scale_at(old_samples, old_pos[name])
                n_sc = _scale_at(new_samples, new_pos[name])
                if o_sc > 0 and n_sc > 0:
                    q_host = n_sc / o_sc
            gated = ratio / q_host if q_host else ratio
            flag = " ⚠" if gated > threshold else ""
            if gated > threshold:
                regressions.append(name)
            rows.append(
                (
                    name,
                    f"{o:.3f}",
                    f"{n:.3f}",
                    f"{ratio:.2f}×{'' if q_host else flag}",
                    f"{gated:.2f}×{flag}" if q_host else "",
                )
            )
        elif n is not None:
            rows.append((name, "—", f"{n:.3f}", "new", ""))
        else:
            rows.append((name, f"{o:.3f}", "—", "dropped", ""))

    if host:
        print(
            f"Canary scales: old {old_scale:.3f}s, new {new_scale:.3f}s "
            f"→ host factor {host:.2f}× (gate runs on normalized ratios"
            + (
                "; windowed — per-query factor interpolated from "
                f"{len(old_samples)}/{len(new_samples)} positioned samples)"
                if windowed
                else ")"
            )
        )
        print("| query | old (s) | new (s) | raw | normalized |")
        print("|---|---|---|---|---|")
        for r in rows:
            print("| " + " | ".join(r) + " |")
    else:
        if not old_scale and not new_scale:
            where = "either file"
        elif not old_scale:
            where = "the OLD file"
        else:
            where = "the NEW file"
        print(
            f"No canary in {where} — gate runs on RAW ratios "
            f"(host drift not separable)."
        )
        print("| query | old (s) | new (s) | ratio |")
        print("|---|---|---|---|")
        for r in rows:
            print("| " + " | ".join(r[:4]) + " |")

    # Cold-path gate (VERDICT r12 item 3): when BOTH artifacts record rep-1
    # times (bench.py's queries_first), pin()/persist-based optimizations —
    # whose min-of-3 reads a warm cache — are additionally gated on the
    # first-run ratio, normalized the same way. Only flagged entries print
    # (the warm table above already carries every query).
    old_first = old_data.get("queries_first") or {}
    new_first = new_data.get("queries_first") or {}
    cold_flagged: list[str] = []
    if old_first and new_first:
        for name in sorted(set(old_first) & set(new_first)):
            o, n = old_first[name], new_first[name]
            if not o or o <= 0 or n is None:
                continue
            ratio = n / o
            q_host = host
            if windowed and old_pos and new_pos and name in old_pos and name in new_pos:
                o_sc = _scale_at(old_samples, old_pos[name])
                n_sc = _scale_at(new_samples, new_pos[name])
                if o_sc > 0 and n_sc > 0:
                    q_host = n_sc / o_sc
            gated = ratio / q_host if q_host else ratio
            if gated > threshold:
                cold_flagged.append(f"{name} ({o:.3f}s → {n:.3f}s cold, {gated:.2f}×)")
        if cold_flagged:
            print("\nCOLD-PATH (rep-1) regressions beyond threshold:")
            for line in cold_flagged:
                print(f"  {line}")
        else:
            print(
                f"\nCold-path (rep-1) gate: no regression > {threshold}× over "
                f"{len(set(old_first) & set(new_first))} queries."
            )

    shared = [n for n in new if n in old]
    tot_o = sum(old[n] for n in shared)
    tot_n = sum(new[n] for n in shared)
    ratio_txt = f"({tot_n / tot_o:.2f}×) " if tot_o > 0 else ""
    print(
        f"\nShared-query total: {tot_o:.2f}s → {tot_n:.2f}s "
        f"{ratio_txt}over {len(shared)} queries; "
        f"{len(new) - len(shared)} new."
    )
    rc = 0
    if regressions:
        kind = "normalized" if host else "raw"
        print(f"REGRESSIONS ({kind} > {threshold}×): {regressions}")
        rc = 1
    if cold_flagged:
        print(f"COLD-PATH REGRESSIONS (> {threshold}×): {len(cold_flagged)} (listed above)")
        rc = 1
    if trust_failures and not allow_contended:
        print(
            f"EXIT 1: {len(trust_failures)} trust failure(s) above — "
            f"comparison refused (pass --allow-contended for forensics)."
        )
        rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
