"""`crawl-deep`: a small universe crawled through the public
`CrawlFrontier` API, with one round measured again and again.

The crawl runs rounds 1..ROUND, then runs round ROUND again and again
for ``--seconds``: before each re-run it rolls the checkpoint back to
round ROUND-1 the way a resume after a crash does (re-commit that
round's manifest, drop the later round directories).  Every run of round
ROUND does the same work from the same state, so the window adds samples
of one fixed round however fast the program is, and each re-run must
reproduce the first run's counts and rows.  The first run is not timed:
it warms the JIT for the re-runs.  The per-round fixed
cost (Spark jobs, stages, driver gap, commit) dominates at this size.
The traced run replays fixed rounds layer by layer and resumes round
ROUND in a fresh session.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np

from common import WORK, Setup, Spans, dir_bytes, kernel_layers, stop_jvm, time_best

# Four layout partitions, one per core of the 4-core baseline box: at the
# program's default of 32, a round takes about 3x as long there, and a run
# has about a minute.  Ten
# links a page (default 3) put round 3 in the regime where most
# discovered links are already seen.
SIZES = {
    "full": dict(universe=4_000, partitions=4, links=10),
    "smoke": dict(universe=1_000, partitions=4, links=10),
}
BUDGET = 50
SALTS = 8
ROUND = 3  # the measured round; rounds 1..ROUND-1 build its state
MIN_RUNS = 2  # timed re-runs
REPLAY_ROUNDS = (ROUND,)
TABLES = ("processed", "filters", "frontier", "lineage")
COUNTS = ("candidates", "novel", "scheduled", "frontier_size")


def _read(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def _host_budgets(cfg) -> dict:
    """Per-host budget of one round, from the synthetic robots rules
    (the `politeness.with_budget` formula)."""
    import pandas as pd

    from ccspark import synth

    rb = synth.gen_robots_pdf(cfg.n_hosts, cfg.seed)
    out = {}
    for host, delay, cap in zip(rb["host"], rb["crawl_delay_ms"], rb["max_fetches_per_round"]):
        b = int(cap)
        if not pd.isna(delay) and int(delay) > 0:
            b = min(b, max(1, int(cfg.round_duration_ms / int(delay))))
        out[host] = b
    return out


def check_rounds(ckpt: str, cfg, rounds: list[dict]) -> dict[int, list[str]]:
    """Invariants of the persisted crawl; returns {round: [problems]}."""
    import pandas as pd

    bad: dict[int, list[str]] = {}
    budgets = _host_budgets(cfg)
    seen = pd.DataFrame({"domain_hash": [], "url_hash": []}, dtype=np.int64)
    for m in rounds:
        k = m["round"]
        probs = []
        proc = _read(os.path.join(ckpt, "processed", f"round={k}"), ["host", "host_rank", "domain_hash", "url_hash"])
        sched = proc[proc["host_rank"].notna()]
        if len(sched) != m["scheduled"]:
            probs.append(f"{len(sched)} scheduled rows, round reported {m['scheduled']}")
        ids = proc[["domain_hash", "url_hash"]]
        if ids.duplicated().any() or len(ids.merge(seen)):
            probs.append("an identity was disposed of twice")
        over = sched.groupby("host").size()
        over = over[over > over.index.map(lambda h: budgets.get(h, cfg.default_budget))]
        if len(over):
            probs.append(f"{len(over)} hosts over budget")
        seen = pd.concat([seen, ids], ignore_index=True)
        fr = _read(os.path.join(ckpt, "frontier", f"round={k}"), ["domain_hash", "url_hash"])
        if len(fr) != m["frontier_size"]:
            probs.append(f"{len(fr)} frontier rows, round reported {m['frontier_size']}")
        if fr.duplicated().any():
            probs.append("duplicate identity in the frontier")
        if len(fr.merge(seen)):
            probs.append("frontier shares identities with seen")
        if probs:
            bad[k] = probs
    return bad


def round_digest(ckpt: str, k: int) -> str:
    """Digest of round k's persisted processed and frontier rows, in a
    fixed row order."""
    import pandas as pd

    h = hashlib.sha256()
    for table, cols in (("processed", ["domain_hash", "url_hash", "host_rank", "priority"]),
                        ("frontier", ["domain_hash", "url_hash", "priority"])):
        df = _read(os.path.join(ckpt, table, f"round={k}"), cols).sort_values(cols[:2], ignore_index=True)
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


def rollback(ck, manifest: dict) -> None:
    """Make ``manifest``'s round the last committed one and drop every
    later round directory, as `CrawlFrontier.run` does on resume."""
    ck.commit_round(
        manifest["round"], manifest["tables"],
        extra={x: v for x, v in manifest.items() if x not in ("round", "tables", "committed_at")},
    )
    ck.drop_rounds_after(manifest["round"])


def run(seed: int, seconds: float, trace: bool, size: str, rss) -> dict:
    from ccspark import synth
    from ccspark.checkpoint import Checkpoint
    from ccspark.frontier import CrawlFrontier, FrontierConfig

    p = SIZES[size]
    work = os.path.join(WORK, "crawl")
    shutil.rmtree(work, ignore_errors=True)
    seeds_dir = os.path.join(work, "seeds")
    ckpt = os.path.join(work, "ckpt")
    cfg = FrontierConfig(
        num_partitions=p["partitions"], universe_n=p["universe"], seed=seed,
        default_budget=BUDGET, n_salts=SALTS, links_per_fetch=p["links"],
    )
    spans = Spans()

    def make_inputs(spark):
        synth.gen_seeds(spark, cfg.universe_n, cfg.n_hosts, seed).write.mode("overwrite").parquet(seeds_dir)

    setup = Setup(trace, make_inputs)
    spark = setup()
    fr = CrawlFrontier(spark, ckpt, cfg)
    t0 = time.perf_counter()
    fr.bootstrap(spark.read.parquet(seeds_dir))
    bootstrap_s = time.perf_counter() - t0
    tracker = spark.sparkContext.statusTracker()

    def one_round(k: int) -> dict:
        before = set(tracker.getJobIdsForGroup(None)) if trace else set()
        e0 = time.time()
        with spans.span("frontier.round", round=k) as sp:
            m = fr.run_round(k)
        m["wall"] = sp["end"] - sp["start"]
        m["epoch"] = (e0, time.time())
        if trace:
            m["jobs"] = sorted(set(tracker.getJobIdsForGroup(None)) - before)
        m["manifest"] = fr.ckpt.read_manifest()
        m["bytes"] = {t: dir_bytes(os.path.join(ckpt, t, f"round={k}")) for t in TABLES}
        m["digest"] = round_digest(ckpt, k)
        return m

    rounds = [one_round(k) for k in range(1, ROUND + 1)]
    first = rounds[-1]
    runs: list[dict] = []
    t_start = time.perf_counter()
    with rss.window():
        while len(runs) < MIN_RUNS or time.perf_counter() - t_start < seconds:
            rollback(fr.ckpt, rounds[-2]["manifest"])
            runs.append(one_round(ROUND))

    out = {"step_s": statistics.median(m["wall"] for m in runs)}
    out["table"] = [
        ("bootstrap_s", bootstrap_s, "s"),
        *((f"round_{m['round']}_first_s", m["wall"], "s") for m in rounds),
        ("round_s", out["step_s"], "s"),
        ("candidates_per_s", first["candidates"] / out["step_s"], "1/s"),
        ("ckpt_bytes_per_candidate", sum(first["bytes"].values()) / max(first["candidates"], 1), "B"),
        (f"round_{ROUND}_timed_runs", len(runs), "count"),
    ]
    bad = check_rounds(ckpt, cfg, rounds)
    want = [first[c] for c in COUNTS] + [first["digest"]]
    for i, m in enumerate(runs, 1):
        if [m[c] for c in COUNTS] + [m["digest"]] != want:
            bad.setdefault(f"{ROUND} (re-run {i})", []).append("differs from its first run")
    attempted = len(rounds) + len(runs)

    if trace:
        out["app_id"] = spark.sparkContext.applicationId
        out["layers"] = replay(spark, cfg, ckpt, rounds, spans, bad)
        out["layers"]["trace.step_s"] = out["step_s"]
        out["steps"] = [(m["jobs"], *m["epoch"]) for m in runs]
        # round ROUND once more, resumed from the round ROUND-1 checkpoint
        # in a fresh session
        rdir = os.path.join(work, "resume")
        shutil.copytree(ckpt, rdir)
        rollback(Checkpoint(rdir), rounds[-2]["manifest"])
        spark = setup()
        with spans.span("frontier.resume_round", round=ROUND) as sp:
            res = CrawlFrontier(spark, rdir, cfg).run(None, 1)
        out["layers"]["frontier.resume_round_s"] = sp["end"] - sp["start"]
        out["table"].append(("resume_round_s", sp["end"] - sp["start"], "s"))
        attempted += 1
        if [res[0][c] for c in COUNTS] + [round_digest(rdir, ROUND)] != want:
            bad.setdefault(f"{ROUND} (resumed)", []).append("resumed round differs from its first run")
    else:
        setup()  # more set-up samples, after the timed rounds
        setup()

    for k, probs in sorted(bad.items(), key=str):
        print(f"crawl-deep: round {k}: {'; '.join(probs)}", flush=True)
    out["setup_s"] = setup.median
    out["attempted"] = attempted
    out["failed"] = len(bad)
    for m in rounds + runs:
        print(
            f"round {m['round']:>2}  wall {m['wall']:7.3f} s  "
            + "  ".join(f"{c} {m[c]}" for c in COUNTS),
            flush=True,
        )
    out["spans"] = spans
    stop_jvm()
    return out


def replay(spark, cfg, ckpt: str, rounds: list[dict], spans: Spans, bad: dict) -> dict:
    """Layer-by-layer replay of REPLAY_ROUNDS against the state each
    round persisted; returns per-layer medians."""
    from ccspark import politeness, seenset, seenstore, synth
    from ccspark.checkpoint import Checkpoint
    from ccspark.frontier import FRONTIER_COLS, expand_links_pdf
    from ccspark import urls as U

    P = cfg.num_partitions
    robots = synth.gen_robots(spark, cfg.n_hosts, cfg.seed)
    probe = Checkpoint(os.path.join(WORK, "crawl", "commit-probe"))
    per: dict[str, list[float]] = {}

    def add(name, v):
        per.setdefault(name, []).append(float(v))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for m in (rounds[k - 1] for k in REPLAY_ROUNDS):
        k = m["round"]
        with spans.span("seenset.gate", round=k) as sp:
            frontier = spark.read.parquet(os.path.join(ckpt, "frontier", f"round={k - 1}"))
            novel = seenset.gate_new_storage(frontier.select(*FRONTIER_COLS), ckpt, k - 1, k - 1, P).cache()
            noop(novel)
        add("seenset.gate_s", sp["end"] - sp["start"])
        add("seenset.gate.novelty_drop_ratio", 1 - m["novel"] / max(m["candidates"], 1))
        with spans.span("politeness.process_round", round=k) as sp:
            noop(politeness.process_round(
                novel, robots, cfg.default_budget, cfg.round_duration_ms, cfg.n_salts,
                broadcast_robots=cfg.broadcast_robots, layout_partitions=P,
            ))
        novel.unpersist()
        add("politeness.process_round_s", sp["end"] - sp["start"])
        add("politeness.rows_in", m["novel"])
        add("politeness.scheduled_ratio", m["scheduled"] / max(m["novel"], 1))
        with spans.span("seenset.update_filters", round=k) as sp:
            noop(seenset.update_filters_storage(
                spark, ckpt, k, P, kind=cfg.filter_kind,
                buckets_per_element=cfg.buckets_per_element, capacity=cfg.capacity_per_partition,
            ))
        add("seenset.update_filters_s", sp["end"] - sp["start"])

        # driver, one core: this round's links against the round-k state
        with spans.span("driver.links", round=k):
            proc = _read(os.path.join(ckpt, "processed", f"round={k}"), ["host_rank", "url_hash"])
            links = expand_links_pdf(proc.loc[proc["host_rank"].notna(), "url_hash"].to_numpy(np.int64), cfg)
            for name, v in kernel_layers(links["url"]).items():
                add(name, v)
            canon, hosts = U.canonicalize_batch_with_host(links["url"])
            fp = U.urlfp_batch(canon, hosts=hosts)
            fp = fp[fp["valid"]]
            dom = fp["domain_hash"].to_numpy(np.int64)
            key = fp["url_hash"].to_numpy(np.int64)
            pids = np.mod(dom, P)
            groups = [(int(pid), np.flatnonzero(pids == pid)) for pid in np.unique(pids)]
            blobs = {pid: seenstore.filter_blob(ckpt, pid, k) for pid, _ in groups}

        def probe_all():
            return [seenset.bloom_probe(key[sel], *blobs[pid][1:3], blobs[pid][4]) for pid, sel in groups]

        with spans.span("seenset.bloom_probe", round=k):
            t_probe = time_best(probe_all)
            suspect = np.zeros(len(key), dtype=bool)
            for (pid, sel), hit in zip(groups, probe_all()):
                suspect[sel] = hit
        seenstore.clear_caches()
        with spans.span("seenstore.seen_arrays", round=k, cache="cold") as sp_cold:
            arrays = {pid: seenstore.seen_arrays(ckpt, pid, k) for pid, _ in groups}
        with spans.span("seenstore.seen_arrays", round=k, cache="warm") as sp_warm:
            for pid, _ in groups:
                seenstore.seen_arrays(ckpt, pid, k)

        def contains_all():
            return [seenstore.contains(*arrays[pid], key[sel], dom[sel]) for pid, sel in groups]

        with spans.span("seenstore.contains", round=k):
            t_contains = time_best(contains_all)
            seen = np.zeros(len(key), dtype=bool)
            for (pid, sel), hit in zip(groups, contains_all()):
                seen[sel] = hit
        if (seen & ~suspect).any():
            bad.setdefault(k, []).append("bloom filter missed a seen identity")
        fill = [
            np.unpackbits(np.frombuffer(b[4], dtype=np.uint8)).sum() / b[2] for b in blobs.values()
        ]
        n = max(len(key), 1)
        add("seenset.bloom_probe_ns_per_key", t_probe / n * 1e9)
        add("seenset.bloom_suspect_ratio", suspect.sum() / n)
        add("seenset.bloom_fp_rate", (suspect & ~seen).sum() / max((~seen).sum(), 1))
        add("seenset.filter_fill", statistics.mean(fill))
        add("seenstore.seen_arrays_cold_s", sp_cold["end"] - sp_cold["start"])
        add("seenstore.seen_arrays_warm_s", sp_warm["end"] - sp_warm["start"])
        add("seenstore.contains_ns_per_key", t_contains / n * 1e9)

        for t, b in m["bytes"].items():
            add(f"checkpoint.bytes.{t}", b)
        mf = m["manifest"]
        extra = {x: v for x, v in mf.items() if x not in ("round", "tables", "committed_at")}
        with spans.span("checkpoint.commit_round", round=k):
            add("checkpoint.commit_s", time_best(lambda: probe.commit_round(k, mf["tables"], extra), 0.05))
    return {name: statistics.median(v) for name, v in per.items()}
