"""Compare two bench JSON records with calibration normalization.

This host shows episodic ~2x noisy-neighbor slowdowns (documented in
bench.py); raw cross-round query-time diffs are therefore routinely
dominated by machine state, not code. Calibration history:

- r5-r8 divided by the startup CPU probe (`cpu_calibration_s`, then
  the pure-python `cpu_calibration_py_s`).
- Round 9 measured the py-probe's own idle band at 0.87-1.5×
  run-to-run (frequency scaling on a lone busy core: 0.33-0.50 s),
  which turned 61 raw IMPROVEMENTS into normalized "hard regressions"
  in the r8→r9 diff. The probe is dead as a per-query yardstick.
- Round 10 (this version) SELF-normalizes instead: the MEDIAN raw
  ratio of the STABLE set — queries untouched between the two records
  — is the machine-speed estimate. Byte-identical code timed in both
  records is the only probe that experiences exactly the JVM/CPU
  state the queries do. Pass --changed name,name,... to exclude the
  round's touched queries from the stable set (they carry real code
  deltas); with most of a 250+-query registry untouched each round,
  the median is robust to forgetting a few.

    python tools/benchdiff.py OLD.json NEW.json [--changed a,b,c]
    python tools/benchdiff.py --ab OLD_SAMPLES NEW_SAMPLES [--label q]
    python tools/benchdiff.py --ab-run QUERY --sf-dir DIR [--old-ref REF]
        [--env-old K=V,..] [--env-new K=V,..] [--n N]

--ab-run is the one interleaved fresh-JVM A/B runner: it times QUERY in
alternating old/new child processes and prints each sample's wall time
and minor page faults, then the --ab verdict and per-side fault medians
(see ab_run).

--ab formalizes the interleaved-A/B discipline that retracted the r10
pagerank/bigram speedup claims: given two sample sets of the SAME
query timed under alternating/same-window conditions (old code vs new
code), it prints medians, spread, the conservative ratio band
[min(old)/max(new), max(old)/min(new)], and a verdict — WASH when the
sample ranges overlap or the median delta sits inside the pooled
relative spread, SPEEDUP/REGRESSION otherwise. Each samples argument
is either comma-separated seconds ("105.9,145.1,85.9") or a
FILE.json:dotted.path pointing at a list (or dict whose leaf floats
are flattened), e.g.
BENCH_SF10_r10b.json:sf10.pagerank_ab_samples.old_code.

For each query present in both records it prints raw and normalized
ratios and flags normalized regressions beyond the documented ±15%
local-JVM wobble band. The EXIT CODE, however, is driven by the HEAVY
SET only (bench.py MANIFEST's sf1 rows plus the sf1 block): SCALING.md's
round-8 conclusion is that the round-over-round signal lives there —
sub-second light queries flap inside JVM-state noise while the heavies
integrate enough work to mean something. The py-probe ratio is still
PRINTED (it documents machine state) but no longer scales anything.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA_BLOCKS, SF1  # noqa: E402

WOBBLE = 0.15   # documented local-JVM noise band
HARD = 0.30     # normalized regression that fails the exit code

# Contention index (cpu_calibration_py_mt_s / cpu_calibration_py_s)
# above which single-thread normalization is KNOWN unreliable:
# co-tenant core theft slows every all-core stage while the
# single-thread probe stays normal (SCALING.md round-6 session 2 — a
# uniform +25% at a clean calibration). The mt probe runs one worker
# per core, so a quiet host reads about 1.1; the contended episode
# would have shown >>3.
CONTENDED = 2.5
# /proc/stat steal share above which a record is refused for
# normalized comparisons (round 9): steal is hypervisor-counted,
# frequency-immune, and 0.02-1.8% across every measured quiet run;
# a co-tenant holding >5% of the box invalidates the single-thread
# yardstick regardless of what the loop probes read.
STEAL_CONTENDED_PCT = 5.0


def _load(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        # driver artifacts wrap the JSON line in a stdout tail
        for line in text.splitlines():
            line = line.strip()
            if line.startswith('{"metric"'):
                return json.loads(line)
        raise


MIN_STABLE = 8  # below this, a median of ratios is itself noise
MIN_AB = 3      # per-side sample floor for an --ab SPEEDUP/REGRESSION call

# Documented quiet-host band for the stable-set median itself (the
# widest machine-state swing ever measured between two honest quiet
# windows; SCALING.md rounds 8-10). A self-calibration scale outside
# it is as consistent with a CODE-induced uniform slowdown as with
# machine state — self-normalization is blind to the difference
# (ADVICE r10), so the tool refuses to call it machine state alone.
SCALE_QUIET_LO, SCALE_QUIET_HI = 0.67, 1.5


def _flatten_floats(obj) -> list[float]:
    if isinstance(obj, (int, float)) and not isinstance(obj, bool):
        return [float(obj)]
    if isinstance(obj, list):
        return [x for item in obj for x in _flatten_floats(item)]
    if isinstance(obj, dict):
        return [x for item in obj.values() for x in _flatten_floats(item)]
    return []


def _load_samples(spec: str) -> list[float]:
    """Comma-separated seconds, or FILE.json:dotted.path into a record."""
    if ":" in spec and not spec.replace(",", "").replace(".", "").isdigit():
        path, _, dotted = spec.partition(":")
        node = _load(path)
        for key in dotted.split("."):
            node = node[key]
        vals = _flatten_floats(node)
    else:
        vals = [float(x) for x in spec.split(",") if x]
    if not vals:
        raise ValueError(f"no samples in {spec!r}")
    return vals


def ab_verdict(old: list[float], new: list[float], label: str = "") -> int:
    """Interleaved-A/B adjudication: medians + spread + wobble verdict."""
    mo, mn = statistics.median(old), statistics.median(new)
    ratio = mo / mn  # >1 = new code faster
    lo_band = min(old) / max(new)   # most conservative speedup
    hi_band = max(old) / min(new)   # most generous
    rel_spread = max(
        (max(s) - min(s)) / statistics.median(s) for s in (old, new)
    )
    overlap = min(old) <= max(new) and min(new) <= max(old)
    name = label or "A/B"
    print(f"{name}: old n={len(old)} median {mo:.3f}s "
          f"[{min(old):.3f}..{max(old):.3f}]")
    print(f"{name}: new n={len(new)} median {mn:.3f}s "
          f"[{min(new):.3f}..{max(new):.3f}]")
    print(f"median ratio old/new = x{ratio:.2f}; conservative band "
          f"x{lo_band:.2f}..x{hi_band:.2f}; pooled rel spread "
          f"{rel_spread:.2f}; ranges {'OVERLAP' if overlap else 'disjoint'}")
    if overlap or abs(ratio - 1) <= rel_spread:
        print("verdict: WASH — the delta sits inside run-to-run wobble; "
              "claim NO speedup/regression from these samples")
        return 0
    if min(len(old), len(new)) < MIN_AB:
        # with n=1 per side rel_spread is 0 and any nonzero delta reads
        # as "disjoint ranges" — the same single-sample trap MIN_STABLE
        # guards against elsewhere; refuse to adjudicate
        print(f"verdict: INSUFFICIENT DATA — <{MIN_AB} samples per side "
              "cannot establish reproducibility outside wobble; gather "
              "more interleaved samples before claiming a delta")
        return 0
    if ratio > 1:
        print(f"verdict: SPEEDUP x{lo_band:.2f}-x{hi_band:.2f} "
              f"(median x{ratio:.2f}) — reproducible outside wobble")
        return 0
    print(f"verdict: REGRESSION x{1 / hi_band:.2f}-x{1 / lo_band:.2f} "
          f"(median x{1 / ratio:.2f}) — reproducible outside wobble")
    return 1


def wait4_sample(
    argv: list[str], cwd: str, env: dict[str, str] | None = None
) -> tuple[int, str, str, int]:
    """Run one child to exit and reap it with ``os.wait4``; returns
    (exit status, stdout, stderr, minor page faults).

    The fault count is wait4's rusage: the child plus every descendant
    it waited for. A tools/time_query.py child waits for its py4j JVM,
    so the count covers driver and JVM: derived_measure at sf0.01 reads
    about 195k on a 4-core host, against about 38k for the Python
    driver alone — a sample near the driver-only figure means the JVM
    escaped reaping and is void. Minor faults are the causal metric for
    allocation-shape changes, which wall time on this host hides in
    fault-service noise. A child still running after 30 minutes is
    killed."""
    with tempfile.TemporaryFile("w+") as err:
        p = subprocess.Popen(
            argv, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
            text=True,
        )
        timer = threading.Timer(1800, p.kill)
        timer.start()
        try:
            out = p.stdout.read()
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
            p.stdout.close()
        p.returncode = os.waitstatus_to_exitcode(status)
        err.seek(0)
        return p.returncode, out, err.read(), ru.ru_minflt


def ab_run(args: list[str]) -> int:
    """One-command interleaved fresh-JVM A/B (r11 verdict task #7).

    Alternates old/new children (tools/time_query.py, one JVM each;
    old runs first in even rounds, new in odd ones) and
    feeds the samples to ab_verdict; each child's minor page faults
    (see wait4_sample) are printed per sample and as a per-side median
    and range after the wall verdict. The OLD side is either a clean
    `git archive` export of --old-ref (code A/B — never a dirty
    worktree copy) or the same tree under --env-old overrides (env A/B,
    e.g. the r11 BLAS-pin experiment: --env-old '' --env-new
    OPENBLAS_NUM_THREADS=1). Interleaving is the point: both arms
    sample the same machine minutes, so a mode flip mid-experiment
    hits both arms instead of masquerading as a code delta.

        python tools/benchdiff.py --ab-run QUERY --sf-dir DIR
            [--old-ref REF | --env-old K=V[,K=V]] [--env-new K=V[,..]]
            [--n N]            # samples per side, default 3
    """
    def opt(flag: str, default: str | None = None) -> str | None:
        if flag in args:
            i = args.index(flag)
            val = args[i + 1]
            del args[i : i + 2]
            return val
        return default

    sf_dir = opt("--sf-dir")
    if sf_dir:
        # the old arm runs with cwd inside the git-archive export — a
        # relative sf_dir (.scale/sf10) must not resolve there
        sf_dir = os.path.abspath(sf_dir)
    old_ref = opt("--old-ref")
    env_old = opt("--env-old", "")
    env_new = opt("--env-new", "")
    n = int(opt("--n", "3"))
    if len(args) != 1 or not sf_dir:
        print(__doc__)
        return 2
    query = args[0]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # The child script always comes from the CURRENT repo (older refs
    # may lack it); cwd selects which engine it imports — time_query.py
    # does sys.path.insert(0, os.getcwd()), so the old arm runs the
    # export's code with the repo's harness.
    argv = [sys.executable, os.path.join(repo, "tools", "time_query.py"),
            sf_dir, query]

    def parse_env(spec: str) -> dict[str, str]:
        return dict(kv.split("=", 1) for kv in spec.split(",") if kv)

    old_cwd = repo
    tmp = None
    try:
        if old_ref:
            tmp = tempfile.mkdtemp(prefix="ab-export-")
            # clean export (tracked files only) — a worktree copy could
            # carry uncommitted changes into the "old" arm
            ar = subprocess.run(
                ["git", "-C", repo, "archive", old_ref],
                capture_output=True, check=True,
            )
            subprocess.run(
                ["tar", "-x", "-C", tmp], input=ar.stdout, check=True
            )
            old_cwd = tmp
            print(f"old = git archive {old_ref} -> {tmp}")
        samples: dict[str, list[float]] = {"old": [], "new": []}
        minflt: dict[str, list[int]] = {"old": [], "new": []}
        arms = [
            ("old", old_cwd, parse_env(env_old)),
            ("new", repo, parse_env(env_new)),
        ]
        for round_i in range(n):
            # old first in even rounds, new first in odd ones, so drift
            # within a round does not always land on the same arm
            order = arms if round_i % 2 == 0 else arms[::-1]
            for side, cwd, env_over in order:
                status, out, err, flt = wait4_sample(
                    argv, cwd, {**os.environ, **env_over}
                )
                got = None
                for line in reversed(out.splitlines()):
                    if line.strip().startswith("{"):
                        # py4j/log4j noise can emit '{'-prefixed non-JSON
                        # lines — keep scanning earlier lines
                        try:
                            got = json.loads(line)
                        except json.JSONDecodeError:
                            continue
                        break
                if status != 0 or not got:
                    print(f"{side} child failed rc={status}: {err[-300:]}")
                    return 2
                samples[side].append(got["seconds"])
                minflt[side].append(flt)
                print(f"[{round_i + 1}/{n}] {side}: {got['seconds']:.3f}s"
                      f"  minflt={flt}")
        rc = ab_verdict(samples["old"], samples["new"], label=query)
        for side, flts in minflt.items():
            print(f"{query}: {side} minflt median "
                  f"{statistics.median(flts):.0f} [{min(flts)}..{max(flts)}]")
        return rc
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    args = list(sys.argv[1:])
    if "--ab-run" in args:
        args.remove("--ab-run")
        return ab_run(args)
    if "--ab" in args:
        i = args.index("--ab")
        rest = args[i + 1:]
        label = ""
        if "--label" in rest:
            j = rest.index("--label")
            label = rest[j + 1]
            del rest[j : j + 2]
        if len(rest) != 2:
            print(__doc__)
            return 2
        return ab_verdict(_load_samples(rest[0]), _load_samples(rest[1]),
                          label)
    changed: set[str] = set()
    if "--changed" in args:
        i = args.index("--changed")
        changed = {n for n in args[i + 1].split(",") if n}
        del args[i : i + 2]
    if len(args) != 2:
        print(__doc__)
        return 2
    a, b = _load(args[0]), _load(args[1])

    def all_queries(rec: dict) -> dict[str, float]:
        out = dict(rec.get("queries", {}))
        for block in EXTRA_BLOCKS:
            out.update(rec.get(block, {}).get("queries", {}))
        return out

    qa, qb = all_queries(a), all_queries(b)
    common = sorted(set(qa) & set(qb))
    # informational only since round 10: the probe documents machine
    # state but its own idle band (0.87-1.5×, frequency scaling) is
    # wider than the regressions it was supposed to detect
    if a.get("cpu_calibration_py_s") and b.get("cpu_calibration_py_s"):
        ca, cb = a["cpu_calibration_py_s"], b["cpu_calibration_py_s"]
        print(
            f"py-probe (informational): {ca:.4f} -> {cb:.4f} s "
            f"(x{cb / ca:.3f}; NOT used for normalization — idle band "
            "0.87-1.5x, SCALING.md round 9)"
        )
    else:
        ca, cb = a.get("cpu_calibration_s"), b.get("cpu_calibration_s")

    # Self-normalization (round 10): byte-identical queries timed in
    # both records are the real calibration probe — they experienced
    # exactly the JVM and CPU state the changed queries did. The
    # MEDIAN of their raw ratios estimates machine speed; per-query
    # normalized = raw / that median.
    stable = [n for n in common if n not in changed and qa[n] > 0]
    scale = None
    if len(stable) >= MIN_STABLE:
        scale = statistics.median(qb[n] / qa[n] for n in stable)
        print(
            f"self-calibration: median raw ratio of {len(stable)} stable "
            f"queries = x{scale:.3f} (normalized = raw / {scale:.3f}; "
            f"{len(changed)} changed excluded)"
        )
        # Blindness guard (ADVICE r10): a stable median outside the
        # quiet-host band is as consistent with a code-induced uniform
        # slowdown (a session.py config, a shared helper) as with
        # machine state — self-normalization cannot tell them apart,
        # so don't let a green exit read as "no regression".
        if not (SCALE_QUIET_LO <= scale <= SCALE_QUIET_HI):
            print(
                f"WARNING: stable-set median x{scale:.3f} is OUTSIDE the "
                f"documented quiet-host band [{SCALE_QUIET_LO}, "
                f"{SCALE_QUIET_HI}] — a uniform CODE slowdown would look "
                "exactly like this; adjudicate with --ab or a clean-export "
                "A/B before trusting normalized ratios"
            )
        if ca and cb and scale > 0:
            probe_ratio = cb / ca
            if max(probe_ratio / scale, scale / probe_ratio) > 2.0:
                print(
                    f"WARNING: py-probe ratio x{probe_ratio:.3f} and "
                    f"stable-set median x{scale:.3f} disagree by >2x — "
                    "machine state alone cannot explain both; suspect a "
                    "code-side uniform shift and adjudicate with --ab"
                )
    elif ca and cb:
        scale = cb / ca
        print(
            f"self-calibration unavailable ({len(stable)} stable < "
            f"{MIN_STABLE}) — falling back to the py-probe x{scale:.3f}"
        )
    else:
        print("calibration missing in at least one record — RAW ratios only")
    regressions = []
    for name in common:
        raw = qb[name] / qa[name]
        norm = raw / scale if scale else raw
        flag = ""
        if norm > 1 + WOBBLE:
            flag = " REGRESSED" + (" (hard)" if norm > 1 + HARD else "")
            regressions.append((name, norm))
        elif norm < 1 - WOBBLE:
            flag = " improved"
        print(
            f"{name:40s} {qa[name]:8.3f} -> {qb[name]:8.3f}"
            f"  raw x{raw:.2f}"
            + (f"  norm x{norm:.2f}" if scale else "")
            + flag
        )
    only_a, only_b = sorted(set(qa) - set(qb)), sorted(set(qb) - set(qa))
    if only_a:
        print(f"only in {args[0]}: {', '.join(only_a)}")
    if only_b:
        print(f"only in {args[1]}: {', '.join(only_b)}")
    hard = [n for n, r in regressions if r > 1 + HARD]
    print(
        f"\n{len(common)} compared; {len(regressions)} beyond wobble; "
        f"{len(hard)} hard (> {int(HARD * 100)}% normalized)"
    )

    # --- heavy-set readout: the part of the diff that carries signal.
    def norm_ratio(name: str) -> float:
        r = qb[name] / qa[name]
        return r / scale if scale else r

    heavy_common = [n for n in SF1 if n in qa and n in qb and qa[n] > 0]
    heavy_hard: list[str] = []
    if heavy_common:
        ratios = {n: norm_ratio(n) for n in heavy_common}
        heavy_hard = [n for n, r in ratios.items() if r > 1 + HARD]
        print(
            f"heavy set (sf0.1): {len(heavy_common)} queries, "
            f"median norm x{statistics.median(ratios.values()):.2f}, "
            f"{len(heavy_hard)} hard"
            + (": " + ", ".join(heavy_hard) if heavy_hard else "")
        )
    s1a = a.get("sf1", {}).get("queries", {})
    s1b = b.get("sf1", {}).get("queries", {})
    s1_common = sorted(n for n in set(s1a) & set(s1b) if s1a[n] > 0)
    if s1_common:
        # self-normalize within the block: stable sf1 queries are the
        # yardstick; below MIN_STABLE fall back to the MAIN self-scale
        # (same session state), then to the probe pair
        s1_stable = [n for n in s1_common if n not in changed]
        if len(s1_stable) >= MIN_STABLE:
            s1_scale = statistics.median(
                s1b[n] / s1a[n] for n in s1_stable
            )
            print(
                f"sf1 self-calibration: median raw ratio of "
                f"{len(s1_stable)} stable queries = x{s1_scale:.3f}"
            )
        else:
            c1a = a["sf1"].get("cpu_calibration_py_s") or ca
            c1b = b["sf1"].get("cpu_calibration_py_s") or cb
            s1_scale = scale or ((c1a and c1b) and (c1b / c1a) or None)
        s1_ratios = {
            n: (s1b[n] / s1a[n]) / s1_scale if s1_scale else s1b[n] / s1a[n]
            for n in s1_common
        }
        s1_hard = [n for n, r in s1_ratios.items() if r > 1 + HARD]
        print(
            f"heavy set (sf1):   {len(s1_common)} queries, "
            f"median norm x{statistics.median(s1_ratios.values()):.2f}, "
            f"{len(s1_hard)} hard"
            + (": " + ", ".join(s1_hard) if s1_hard else "")
        )
        # when both records carry an sf1 block it is the exit-driving
        # signal: 10× the data integrates past the 1-4 s JVM-state
        # wobble that still flips sf0.1 "heavies" on identical code
        # (r8→r9 observation: sf0.1 heavy median 1.26 on byte-identical
        # queries while sf1 read 0.58), and a real regression shows
        # there amplified, not hidden
        heavy_hard = s1_hard
    # only heavy-set regressions drive the exit code
    hard = heavy_hard

    # Core-theft screen: if either record was taken under multicore
    # contention the single-thread normalization above cannot be
    # trusted — report INCONCLUSIVE (exit 3) instead of failing hard,
    # and point at the clean-export A/B as the adjudication.
    def contention_index(rec: dict) -> float | None:
        # the pure-python pair is the real index; the legacy numpy
        # pair reads ~7 on an IDLE 32-core host (BLAS oversubscription
        # artifact, round-8 finding) so it can only be trusted when
        # nothing better exists AND is interpreted against that floor
        st, mt = (
            rec.get("cpu_calibration_py_s"),
            rec.get("cpu_calibration_py_mt_s"),
        )
        if st and mt:
            return mt / st
        # legacy numpy pair only: its index reads ~7 on an IDLE
        # 32-core host, so it cannot distinguish quiet from contended
        # — treated as unknown rather than fudged
        return None

    ia, ib = contention_index(a), contention_index(b)
    for label, idx in (("old", ia), ("new", ib)):
        if idx is not None:
            print(f"contention index ({label}): {idx:.2f}"
                  + ("  CONTENDED" if idx > CONTENDED else ""))
    # host fresh-memory mode (round 12): first-touch bandwidth probe —
    # 0.01-0.78 GB/s windows tax alloc-hungry queries (python kernels,
    # spill buffers) with no other counter moving; informational here,
    # decisive when one record's alloc-heavy numbers look inflated
    for label, rec in (("old", a), ("new", b)):
        if rec.get("mem_fault_gbps") is not None:
            print(f"mem fault probe ({label}): "
                  f"{rec['mem_fault_gbps']:.2f} GB/s first-touch")
    # /proc/stat steal (round 9, refined round 12): the authoritative
    # co-tenant signal — the loop-probe index wobbles 0.87-1.5 on a
    # measured-idle host (frequency scaling), steal does not.
    #
    # Round 12 (r11 verdict task #4): bench.py now snapshots steal at
    # SECTION boundaries (headline/extras/sf1/pipeline/sf10), because
    # the whole-run integral demonstrably hides stolen sections —
    # BENCH_LOCAL_r11 read 4.97% overall from a ruined sf10 section
    # beside a near-quiet sf1 block, and r11c the mirror image (stolen
    # headline, quiet sf1). Where a record carries sections, the gate
    # is PER SECTION: only hard flags whose section was contended (in
    # either record) are refused; quiet sections' verdicts stand. The
    # whole-run integral remains the screen for legacy records.
    def bad_sections(rec: dict) -> set[str]:
        return {
            s
            for s, v in rec.get("cpu_steal_pct_sections", {}).items()
            if v > STEAL_CONTENDED_PCT
        }

    steal_contended = False  # legacy whole-run screen
    sect_bad: set[str] = set()
    for label, rec in (("old", a), ("new", b)):
        sections = rec.get("cpu_steal_pct_sections")
        if sections:
            bad = bad_sections(rec)
            sect_bad |= bad
            detail = ", ".join(
                f"{s}={v:.3f}%" + (" CONTENDED" if s in bad else "")
                for s, v in sections.items()
            )
            print(f"cpu steal ({label}, per section): {detail}")
            if rec.get("cpu_steal_pct") is not None:
                print(f"cpu steal ({label}, whole-run): "
                      f"{rec['cpu_steal_pct']:.3f}% (sections gate)")
        elif rec.get("cpu_steal_pct") is not None:
            s = rec["cpu_steal_pct"]
            flagged = s > STEAL_CONTENDED_PCT
            steal_contended = steal_contended or flagged
            print(f"cpu steal ({label}): {s:.3f}%"
                  + ("  CONTENDED" if flagged else ""))
    if hard and sect_bad:
        # map each exit-driving hard flag to the section its numbers
        # came from: the sf1 block when it drove the exit, else the
        # sf0.1 record section (headline vs one of the extras blocks)
        def section_of(name: str) -> str:
            if s1_common and name in s1a and name in s1b:
                return "sf1"
            if name in a.get("queries", {}) or name in b.get("queries", {}):
                return "headline"
            return "extras"

        stolen = [n for n in hard if section_of(n) in sect_bad]
        if stolen:
            hard = [n for n in hard if n not in stolen]
            print(
                f"STEAL-EXCLUDED ({', '.join(sorted(sect_bad))} section"
                f"{'s' if len(sect_bad) > 1 else ''} > "
                f"{STEAL_CONTENDED_PCT}%): {', '.join(stolen)} — these "
                "numbers were taken on stolen cores; re-measure that "
                "section on a quiet host"
            )
    # whole-run steal is the authoritative screen only for records
    # WITHOUT section snapshots: a co-tenant holding >5% of the box
    # somewhere invalidates the yardstick and we can't localize it
    if hard and steal_contended:
        print(
            "INCONCLUSIVE: hard regressions but a record was taken under "
            f"measured core theft (steal > {STEAL_CONTENDED_PCT}%) — re-run "
            "the bench on a quiet host."
        )
        return 3
    if hard and any(idx is not None and idx > CONTENDED for idx in (ia, ib)):
        print(
            "INCONCLUSIVE: hard regressions measured under multicore "
            "contention — re-run on a quiet host or adjudicate with the "
            "old-commit clean-export A/B (SCALING.md)."
        )
        return 3
    return 1 if hard else 0


if __name__ == "__main__":
    sys.exit(main())
