#!/usr/bin/env python
"""Benchmark harness: runs every driver registry entry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric", "value",
"unit", "queries", "sf"}.

Execution is forced through the noop sink (full plan runs, nothing
collected to the driver) — the honest measure of operator cost.

`bench.py --members` instead times every RAW fine-grained query
(~165 lines, suite members individually, default 1 rep) and prints the
same JSON shape with metric=raw_members_total_sec — the attribution
companion to the registry-level run. `--only a,b,c` (either mode)
restricts to the named entries for quick iteration on one line's cost
— the emitted total then covers only those lines, so never record an
--only run as a round artifact.

`--check PREV.json` (accepts a bench JSON line or a round driver
BENCH_r{N}.json wrapper) turns the per-round regression audit into CI:
after timing, exit non-zero if any query ran >2x its previous time AND
above the noise floor (0.75 s default, $SPARK_GRAFT_CHECK_FLOOR) — see
``check_regressions`` for the envelope rationale.

IDLE-RUN PROTOCOL (mechanical since r13, settle+sampling since r14):
numbers are only comparable between runs taken in an otherwise-idle
container — a second Spark JVM (pytest, a driver sweep) inflates
individual queries 2-4x via CPU/page-cache contention. The protocol is
enforced IN the artifact, not just in this docstring, three ways:
(1) SETTLE — before timing, if a foreign java/pytest process is
visible, re-probe every ~5 s until two consecutive clean probes or
$SPARK_GRAFT_BENCH_SETTLE_SEC (default 120 s) elapse, then proceed
with whatever state remains (the r13 artifact of record was stamped
contended because the round driver launches bench while its previous
JVM is still exiting — waiting out that shutdown race is cheaper than
a polluted capture); (2) a background thread samples the probe every
~10 s DURING timing, so a contender that starts and exits entirely
within the bench window is still seen (through r13 only the endpoints
were sampled); (3) when any probe trips, the emitted JSON carries
`"contended": true` plus the evidence, and the committed .benchmarks
copy goes to bench_<tag>_contended.json so the previous idle capture
under the tag survives. r2's apparent t6 1.9x / exact-dedup 1.65x
"regressions" both reversed under this protocol (r3 idle: t6 0.407s,
exact_dedup 0.297s); the r12 artifact of record was a contended
capture recorded as comparable (24.25 s on a line that measures
12.4 s idle). Set SPARK_GRAFT_BENCH_STRICT_IDLE=1 to refuse (exit 3)
instead of mark.

KNOWN SERIES BREAK (r5→r6): llm_minhash_lsh_candidates /
llm_ngram_near_dup / llm_dedup_keep rose 1.5-4x in r6 because their
persisted intermediates are now unpersisted deterministically inside
the operator. Through r5 the min-of-2 protocol's second rep silently
re-read the FIRST rep's leaked cache (CacheManager matches
canonicalized plans), so the recorded min was a warm-cache path no
one-shot pipeline ever sees. The r6+ numbers are the honest cold
cost; compare r6 against r6, not r5, for these three.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Former driver-registry entries that were folded into suites after
#: being benched standalone. The bench contract never removes a key
#: from the emitted ``queries`` dict, so these keep their own timed
#: line (from QUERIES_RAW). r14: llm_ffd_packing became a member of
#: suite_packing.
BENCH_EXTRAS = [
    "llm_ffd_packing",
]


def load_prev_timings(path: str) -> dict[str, float]:
    """Read a previous bench artifact's per-query timings. Accepts both
    shapes: bench.py's own JSON line ({"queries": {...}}), and the
    round driver's BENCH_r{N}.json wrapper whose "tail" string embeds
    that line."""
    with open(path) as fh:
        obj = json.load(fh)
    if "queries" in obj:
        return {k: float(v) for k, v in obj["queries"].items()}
    tail = obj.get("tail", "")
    i = tail.find('{"metric"')
    if i >= 0:
        return {
            k: float(v)
            for k, v in json.loads(tail[i:].strip())["queries"].items()
        }
    # Driver captures truncate from the FRONT (BENCH_r08 lost its head,
    # leaving an unparseable fragment): salvage the per-query pairs by
    # regex so the tripwire still has a baseline instead of dying.
    import re as _re

    pairs = {
        m.group(1): float(m.group(2))
        for m in _re.finditer(r'"([A-Za-z0-9_]+)":\s?([0-9][0-9.]*)', tail)
    }
    # legacy_headline_total: a retired key the committed artifacts carry
    for meta in ("n", "rc", "cpus", "sf", "value", "legacy_headline_total"):
        pairs.pop(meta, None)
    if not pairs:
        raise SystemExit(f"--check: no bench JSON found in {path}")
    return pairs


def check_regressions(
    prev: dict[str, float],
    curr: dict[str, float],
    ratio: float = 2.0,
    floor: float = 0.75,
) -> list[str]:
    """Regression tripwire (the in-repo form of the per-round "did
    anything regress" audit): a query REGRESSES when it runs more than
    ``ratio``× its previous time AND lands above ``floor`` seconds —
    the floor is the documented noise envelope (sub-0.75 s lines are
    dominated by fixed JVM/codegen overhead that jitters ±20% on this
    host; a 0.2 s → 0.5 s move is noise, a 3 s → 7 s move is a plan
    change). Queries present on only one side are ignored: suite
    recompositions add/remove lines by design."""
    bad = []
    for name, new in sorted(curr.items()):
        old = prev.get(name)
        if old is None or old <= 0:
            continue
        if new > ratio * old and new > floor:
            bad.append(f"{name}: {old:.3f}s -> {new:.3f}s ({new / old:.1f}x)")
    return bad


def contention_probe() -> dict:
    """One sample of the host-contention evidence: 1-minute load
    average and every OTHER java/pytest process visible in /proc
    (this bench's own JVM is a child of this process and is excluded
    by parent-pid walk). Pure /proc reads — no subprocess, no pgrep
    dependency — so the probe itself costs ~nothing and cannot hang."""
    me = os.getpid()
    children = set()
    # walk /proc once to map ppid -> pids, then collect our subtree.
    # comm may contain spaces and parens ("tmux: server") — the only
    # safe parse is rsplit on the LAST ')' (kernel proc(5) guidance);
    # a naive split() makes parts[3] the state char and int() explodes
    ppid_of: dict[int, int] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
            head, _, tail = raw.rpartition(")")
            names[pid] = head.split("(", 1)[1] if "(" in head else head
            ppid_of[pid] = int(tail.split()[1])
        except (OSError, ValueError, IndexError):
            continue
    frontier = {me}
    while frontier:
        children |= frontier
        frontier = {
            p for p, pp in ppid_of.items() if pp in children
        } - children
    # ancestors are ours too: the round driver that INVOKED this bench
    # may carry "spark"/"pytest" in its own cmdline — flagging the
    # parent chain would mark every driver capture contended
    p = me
    seen_up = set()
    while p in ppid_of and p not in seen_up:
        seen_up.add(p)
        p = ppid_of[p]
        children.add(p)

    def _is_contender(pid: int) -> bool:
        # comm catches JVMs and pytest binaries; cmdline additionally
        # catches "python -m pytest" (comm = python3) and pure-python
        # pyspark driver phases — the retired pgrep -f protocol's
        # recall, restored
        if "java" in names[pid] or "pytest" in names[pid]:
            return True
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\x00", b" ").decode(
                    "utf-8", "replace").lower()
        except OSError:
            return False
        # narrow tokens: bare "spark" would false-positive on paths
        # like /root/spark-graft/... in unrelated shells
        return ("pytest" in cmd or "pyspark" in cmd
                or "spark-submit" in cmd or "sparksubmit" in cmd)

    foreign = sorted(
        f"{pid}:{names[pid]}"
        for pid in names
        if pid not in children and _is_contender(pid)
    )
    load1 = os.getloadavg()[0]
    return {"load1": round(load1, 2), "foreign": foreign}


def settle(max_wait: float, interval: float = 5.0) -> list[dict]:
    """Bounded wait for the host to go idle before timing starts.

    The round driver launches bench while its correctness sweep's JVM
    is still tearing down, so through r13 the artifact of record was
    perpetually (and correctly) stamped contended. Marking was not
    enough — the capture the judge reads must be idle BY CONSTRUCTION.
    Re-probe every ``interval`` seconds until TWO consecutive probes
    see no foreign java/pytest (the double-clean requirement absorbs
    the JVM shutdown race where /proc still lists an exiting pid) or
    ``max_wait`` seconds elapse; then return the probes taken so the
    wait itself is part of the committed evidence. Never raises — if
    the contender outlives the budget we proceed and the normal
    contended-stamping path takes over."""
    probes = [contention_probe()]
    if not probes[0]["foreign"]:
        return probes
    deadline = time.monotonic() + max_wait
    clean_streak = 0
    while time.monotonic() < deadline:
        time.sleep(interval)
        p = contention_probe()
        probes.append(p)
        clean_streak = 0 if p["foreign"] else clean_streak + 1
        if clean_streak >= 2:
            break
    waited = round(len(probes) * interval - interval, 1)
    print(
        f"bench: settle waited ~{waited}s across {len(probes)} probes; "
        f"final foreign={probes[-1]['foreign']}",
        file=sys.stderr,
    )
    return probes


class ProbeSampler:
    """Background probe sampling DURING the timed window. The r13
    endpoint-only protocol could not see a contender that started and
    exited entirely inside the ~3-4 min bench run; a daemon thread
    sampling every ``interval`` seconds closes that blind spot for
    ~zero cost (the probe is pure /proc reads). Samples append to the
    shared probes list consumed by ``contended()``/the artifact."""

    def __init__(self, probes: list[dict], interval: float = 10.0):
        import threading

        self._probes = probes
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                self._probes.append(contention_probe())
            except Exception:
                pass  # a failed sample must never kill the bench

    def __enter__(self) -> "ProbeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=2.0)


def contended(probes: list[dict]) -> bool:
    """A capture is contended iff a FOREIGN java/pytest process was
    visible at any probe point. Load average is stamped as evidence
    but deliberately not a trigger: the bench's own local[32] JVM
    drives load1 far past any fixed threshold, and when the round
    driver runs bench right after its correctness sweep the backward-
    looking load1 is still elevated even though the sweep's JVM is
    gone — both would false-positive. A concurrent JVM (the r12
    failure mode) is the thing that actually skews timings 2-4x, and
    it is exactly what the /proc scan sees."""
    return any(p["foreign"] for p in probes)


def bench_set() -> list[tuple[str, object]]:
    """Every driver registry entry (suites count as one line each) plus
    the ``BENCH_EXTRAS`` former driver keys."""
    from datawarehouse_spark.queries import QUERIES, QUERIES_RAW

    names = list(QUERIES) + [h for h in BENCH_EXTRAS if h not in QUERIES]
    return [(n, QUERIES.get(n) or QUERIES_RAW[n]) for n in names]


def members_set() -> list[tuple[str, object]]:
    """--members mode: every RAW fine-grained query (suite members
    included individually), so a member-level regression inside a
    union suite is attributable without re-deriving it from
    scalecheck sweeps."""
    from datawarehouse_spark.queries import QUERIES_RAW

    return sorted(QUERIES_RAW.items())


#: the round driver records bench stdout through a bounded tail
#: (2000 chars observed in BENCH_r09) and parses the JSON line out of
#: it; BENCH_r08/r09 both exceeded the window (2157 chars at r9) and
#: recorded "parsed": null. Budget with headroom for a trailing
#: newline and partial-line capture slack.
DRIVER_TAIL_BUDGET = 1950


def compact_line(out: dict) -> str:
    """The stdout JSON line, guaranteed to fit the driver's tail
    window: compact separators; if over budget, the fine-grained lines
    that are neither driver registry entries nor ``BENCH_EXTRAS`` (the
    --members raw queries — they live in full in the committed
    .benchmarks copy) drop out of the stdout dict first, then per-query
    timings round 3 → 2 → 1 decimals. Everything the driver spec requires
    (metric/value/unit/queries/sf, with a queries entry for every
    registry name) always stays."""
    line = json.dumps(out, separators=(",", ":"))
    slim = out
    if len(line) > DRIVER_TAIL_BUDGET:
        try:
            from datawarehouse_spark.queries import QUERIES as _DRIVER
        except Exception:
            _DRIVER = out["queries"]
        # BENCH_EXTRAS must survive the trim: they are former driver-
        # registry keys the "never remove a queries key" contract still
        # covers (r14 lesson: the registry-only trim silently dropped
        # llm_ffd_packing from the driver's parsed dict, and the round
        # audit recorded it as a removed query).
        keep = set(_DRIVER) | set(BENCH_EXTRAS)
        slim = dict(
            out,
            queries={
                k: v for k, v in out["queries"].items() if k in keep
            },
        )
        line = json.dumps(slim, separators=(",", ":"))
    for nd in (2, 1):
        if len(line) <= DRIVER_TAIL_BUDGET:
            return line
        slim = dict(
            slim,
            queries={k: round(v, nd) for k, v in slim["queries"].items()},
        )
        line = json.dumps(slim, separators=(",", ":"))
    if len(line) > DRIVER_TAIL_BUDGET:
        # loud at run time, not only in the pinned registry-size test:
        # an over-budget line regresses the driver artifact to
        # "parsed": null silently (BENCH_r08/r09 did exactly that)
        print(
            f"bench: WARNING stdout line {len(line)} chars exceeds the "
            f"driver tail budget {DRIVER_TAIL_BUDGET} after all trims — "
            "shrink the registry key set or shorten names",
            file=sys.stderr,
        )
    return line


def main() -> None:
    members = "--members" in sys.argv[1:]
    only: set[str] | None = None
    check_path: str | None = None
    for i, a in enumerate(sys.argv[1:], 1):
        if a == "--check":
            if i >= len(sys.argv) - 1:
                raise SystemExit("--check requires a previous-artifact path")
            check_path = sys.argv[i + 1]
        elif a.startswith("--check="):
            check_path = a.split("=", 1)[1]
        elif a == "--only":
            if i >= len(sys.argv) - 1:
                # falling through would run (and maybe record) the FULL
                # set under a flag that promised a subset — fail loud
                raise SystemExit("--only requires a value")
            only = set(sys.argv[i + 1].split(","))
        elif a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    settle_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_SETTLE_SEC", "120"))
    settle_probes = settle(settle_budget) if settle_budget > 0 else []
    # the timed-window evidence starts FRESH after settle: the settle
    # probes document the wait, they don't indict the capture
    probes = [contention_probe()]
    if probes[0]["foreign"] and os.environ.get("SPARK_GRAFT_BENCH_STRICT_IDLE"):
        print(
            "bench: REFUSING contended capture (strict idle): foreign "
            f"processes {probes[0]['foreign']}",
            file=sys.stderr,
        )
        raise SystemExit(3)
    from datawarehouse_spark.session import get_spark

    spark = get_spark(app_name="dw-bench")
    entries = members_set() if members else bench_set()
    if only is not None:
        unknown = only - {n for n, _ in entries}
        if unknown:
            raise SystemExit(f"--only names not in this mode: {sorted(unknown)}")
        entries = [(n, f) for n, f in entries if n in only]
    # warm-up pass at the smallest SF: absorbs JVM/JIT/codegen compilation
    # and filesystem init so timings measure the engine, not cold start
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name, fn in entries:
            try:
                fn(spark, warm_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            except Exception:
                pass

    # min-of-N per query: strips JIT/GC/page-cache noise (±20% on sub-2s
    # queries) so round-over-round comparisons track the plan, not the host
    # (--members defaults to 1 rep: ~155 raw queries, attribution not
    # series comparison, is the goal there)
    reps = max(1, int(os.environ.get(
        "SPARK_GRAFT_BENCH_REPS", "1" if members else "2")))
    timings: dict[str, float] = {}
    with ProbeSampler(probes):
        for name, fn in entries:
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                try:
                    df.write.mode("overwrite").format("noop").save()
                except Exception:
                    df.count()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
            # harness hygiene: operators that return eagerly
            # localCheckpoint-ed results leave their checkpoint RDD
            # blocks persisted until the JVM exits (nothing ever calls
            # unpersist on a returned DataFrame). Across ~80 entries ×
            # reps the block-manager accumulates dozens of zombie
            # blocks (measured: 25 after ~40 entries); drop them
            # between entries. This only REMOVES state — a rep always
            # recomputes from parquet (a fresh localCheckpoint RDD is
            # never reused across reps), so it cannot warm anything.
            try:
                jmap = spark.sparkContext._jsc.getPersistentRDDs()
                for jrdd in jmap.values():
                    jrdd.unpersist()
            except Exception:
                pass

    probes.append(contention_probe())
    is_contended = contended(probes)
    if is_contended:
        print(
            "bench: WARNING capture is CONTENDED — foreign java/pytest "
            f"seen: {sorted(set(sum((p['foreign'] for p in probes), [])))}"
            " — timings are NOT comparable to idle captures",
            file=sys.stderr,
        )
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    if members:
        out = {
            "metric": "raw_members_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
        }
    else:
        out = {
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
        }
    if is_contended:
        # stdout stays compact in the clean case: the flag appears
        # ONLY when tripped, so its absence asserts an idle capture
        out["contended"] = True
    print(compact_line(out))
    # Persist the full line in-repo (full-registry and --members runs
    # — never --only subsets): the committed copy is the canonical
    # full-precision series artifact (SCALE.md "Bench artifacts").
    # --members NEEDS this copy: its full per-member dict (~230
    # entries) never fits the driver's stdout tail budget, so
    # compact_line drops most of it from stdout — without the file
    # the attribution run records almost nothing (the r9 members
    # artifact was written this way; the path was lost in the r13
    # contended-suffix rework).
    if only is None and members:
        os.makedirs(".benchmarks", exist_ok=True)
        tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "members_latest")
        suffix = "_contended" if is_contended else ""
        with open(f".benchmarks/bench_{tag}{suffix}.json", "w") as fh:
            fh.write(json.dumps(dict(
                out, idle_probes=probes, settle_probes=settle_probes,
            )) + "\n")
    if only is None and not members:
        os.makedirs(".benchmarks", exist_ok=True)
        tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "latest")
        # a contended run must NOT clobber the last idle capture under
        # the tag — it lands in a sibling _contended file instead, so
        # the artifact of record under bench_<tag>.json is always the
        # most recent IDLE capture (ADVICE r13: strict-idle runs were
        # overwriting the prior idle artifact before exiting 3)
        suffix = "_contended" if is_contended else ""
        with open(f".benchmarks/bench_{tag}{suffix}.json", "w") as fh:
            # the committed copy always carries the full idle evidence
            # (timed-window probe samples, incl. the in-flight sampler's,
            # plus the pre-run settle-wait probes), not just the flag
            fh.write(json.dumps(dict(
                out, idle_probes=probes, settle_probes=settle_probes,
            )) + "\n")
    spark.stop()
    if is_contended and os.environ.get("SPARK_GRAFT_BENCH_STRICT_IDLE"):
        # strict mode must refuse contention seen by EITHER probe —
        # only refusing on the pre-run probe would green-light a JVM
        # that started one second after the bench did. The JSON line
        # and evidence are already printed/persisted above, so the
        # polluted numbers remain inspectable; the exit code is the
        # contract.
        print(
            "bench: STRICT IDLE — capture was contended, exiting 3",
            file=sys.stderr,
        )
        raise SystemExit(3)
    if check_path is not None:
        floor = float(os.environ.get("SPARK_GRAFT_CHECK_FLOOR", "0.75"))
        bad = check_regressions(
            load_prev_timings(check_path), timings, floor=floor
        )
        if bad:
            print(
                f"REGRESSIONS vs {check_path} (>2x and >{floor}s):",
                file=sys.stderr,
            )
            for line in bad:
                print("  " + line, file=sys.stderr)
            raise SystemExit(1)
        print(f"--check: no regressions vs {check_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
