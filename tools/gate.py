"""The pre-snapshot gate: pytest + the full DuckDB oracle sweep.

Round 4 shipped with a red test and 20 erring driver queries because
the gate was a convention, not a command. This makes it mechanical:

    python tools/gate.py            # full gate (pytest + oracle + order @ sf0.01)
    python tools/gate.py --oracle   # oracle sweep only
    python tools/gate.py --pytest   # test suite (+ the benchmark's self-tests) only
    python tools/gate.py --order    # order-robustness sweep only

Capture output with tee (never a tail pipe) — the r11 flake's query
name was lost to one: `python tools/gate.py 2>&1 | tee /tmp/gate.log`.

Exit code 0 iff EVERYTHING is green. Run it before every end-of-round
commit; if it is red, the snapshot is not ready.
"""

import subprocess
import sys

REPO = "/root/repo"


def run_pytest() -> bool:
    """The test suite plus the benchmark's own arithmetic tests."""
    print("== gate: pytest ==", flush=True)
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "perfbench/test_perfbench.py",
         "-q", "--tb=line"],
        cwd=REPO,
    )
    return r.returncode == 0


def run_oracle() -> bool:
    print("== gate: oracle sweep (sf0.01) ==", flush=True)
    r = subprocess.run(
        [sys.executable, "tools/check_oracle.py", "/root/testdata/sf0.01"],
        cwd=REPO,
    )
    return r.returncode == 0


def run_order() -> bool:
    """Order-robustness sweep (VERDICT r11 #2): every registry query at
    1 vs 32 shuffle partitions must hash identically — catches the
    float-sum-order class (the r11 driver red AND the r11 gate flake)
    locally instead of on the driver."""
    print("== gate: order-robustness sweep (sf0.01) ==", flush=True)
    r = subprocess.run(
        [sys.executable, "tools/check_order_robustness.py",
         "/root/testdata/sf0.01", "--json", "ORDER_SWEEP.json"],
        cwd=REPO,
    )
    return r.returncode == 0


def run_registry() -> bool:
    """Mechanical registry invariants: queries() and oracle_sql() carry
    identical key sets, and every query has correctness evidence —
    a driver row from any round, OR (since the 50-slot gate saturated
    at r9 and net-new queries wait one round for their first driver
    window, per the queries() docstring rotation contract) a green
    hash row in the newest committed CORRECTNESS_LOCAL artifact.
    Rotation/evidence-age auditing lives in tools/check_rotation.py."""
    print("== gate: registry invariants ==", flush=True)
    import glob
    import json

    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    qs = list(E.queries())
    os_ = set(E.oracle_sql())
    ok = True
    if set(qs) != os_:
        print(f"KEY DRIFT: {set(qs) ^ os_}")
        ok = False
    gated = set()
    for f in glob.glob(f"{REPO}/CORRECTNESS_r*.json"):
        gated |= set(json.load(open(f)))
    local_green, local_rows = set(), {}
    locals_ = sorted(glob.glob(f"{REPO}/CORRECTNESS_LOCAL_r*.json"))
    if locals_:
        with open(locals_[-1]) as f:
            local_rows = json.load(f)
        local_green = {q for q, v in local_rows.items()
                       if isinstance(v, dict) and v.get("hash_match")}
    # diag_ rows are row-count-channel probes (may be red by design) —
    # "evidence" for them is any recorded row, never a hash
    unevidenced = [
        q for q in qs
        if q not in gated and q not in local_green
        and not (q.startswith("diag_") and q in local_rows)
    ]
    if unevidenced:
        print(f"NO CORRECTNESS EVIDENCE (driver or local): {unevidenced}")
        ok = False
    print("registry:", "ok" if ok else "RED", f"({len(qs)} queries)")
    return ok


def run_rotation() -> bool:
    """Fold check_rotation's evidence-age audit into the gate so
    local-only evidence cannot silently persist past its first driver
    window (ADVICE r9: gate.py accepted a self-generated local hash
    row as sole evidence forever unless check_rotation was run by
    hand)."""
    print("== gate: rotation age audit (now + gate-time simulation) ==",
          flush=True)
    # --simulate additionally proves the invariant holds the moment
    # the current head-50 gates green next round (VERDICT r14 #2: a
    # head plan that only passes "now" is not a plan)
    r = subprocess.run(
        [sys.executable, "tools/check_rotation.py", "--simulate"], cwd=REPO
    )
    return r.returncode == 0


def tree_state() -> str:
    """The exact tree this gate run blesses: HEAD hash + dirty marker.
    VERDICT r10 #2 — r10's snapshot added registry rows AFTER the gate
    ran, shipping a RED tree. The mechanical rule: the snapshot commit
    must be the exact tree gate.py blessed, so the gate prints the
    hash it ran on and the snapshot message records it. A '-dirty'
    suffix means uncommitted changes were present: committing them
    afterwards produces a DIFFERENT tree than the one blessed, so a
    dirty-green gate only covers an immediately following commit of
    exactly those changes and nothing more."""
    h = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
        capture_output=True, text=True,
    ).stdout.strip()
    dirty = subprocess.run(
        ["git", "status", "--porcelain"], cwd=REPO,
        capture_output=True, text=True,
    ).stdout.strip()
    return f"{h}-dirty" if dirty else h


def main() -> int:
    args = set(sys.argv[1:])
    do_pytest = not args or "--pytest" in args
    do_oracle = not args or "--oracle" in args
    do_order = not args or "--order" in args
    state = tree_state()
    print(f"== gate: tree {state} ==", flush=True)
    ok = run_registry()
    ok = run_rotation() and ok
    if do_pytest:
        ok = run_pytest() and ok
    if do_oracle:
        ok = run_oracle() and ok
    if do_order:
        ok = run_order() and ok
    verdict = "GREEN" if ok else "RED — do not snapshot"
    print(f"== gate: {verdict} (tree {state}) ==")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
