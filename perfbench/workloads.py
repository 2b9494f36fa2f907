"""The benchmark's workloads.  Each is a closed loop: one caller submits a
crawl (or a frontier pass), waits for it to complete, then submits the next.

Every input is generated from the workload seed.  The engine gets only the
generated inputs: a datagen site served by ``CorpusFetcher``, or generated
URL rows.  Each workload returns a dict of:

- ``e2e``: the end-to-end metrics of the untraced timed section;
- ``setup``: the set-up parts, in seconds;
- ``layers``: per-layer metrics and trace detail of a traced run (``None``
  untraced);
- ``checks``: ``{"attempted", "failed", "detail"}`` from the correctness gate.
"""

from __future__ import annotations

import math
import os
import random
import re
import statistics
import tempfile
import time

from pyspark.sql import functions as F

from facebook_page_scrapy_spark import datagen
from facebook_page_scrapy_spark.crawl import CrawlEngine
from facebook_page_scrapy_spark.functions import urls as U
from facebook_page_scrapy_spark.operators import dedup as D
from facebook_page_scrapy_spark.operators import parse as P
from facebook_page_scrapy_spark.operators import scheduler as S
from facebook_page_scrapy_spark.operators.fetch import CorpusFetcher
from facebook_page_scrapy_spark.simulator import simulate
from facebook_page_scrapy_spark.state.snapshot import SnapshotStore

from perfbench.tracing import Tracer, union_length

# --------------------------------------------------------------------- sizes
# crawl-deep: 4 groups x 1 listing page x 50 posts, <=10 comments per post
# (10 per page, so each comment chain is one full page and the empty page
# that ends it) -> ~770 URLs in 4 work rounds on a four-level site.
DEEP_SITE = dict(n_groups=4, pages_per_group=1, posts_per_page=50,
                 comments_per_post=10, comment_page_size=10, four_level=True)
# throughput mode, as in bench.py's crawl: every pending URL is dispatched
# each round (the site is one host; its rounds stay below the salting
# threshold)
ENGINE = dict(default_tokens=100_000, use_bloom=True, n_bloom_shards=8,
              hot_host_threshold=1000, store_raw=False, four_level=True,
              compact_every=4)
# the warm-up crawl stops after its first 2 rounds (listing and post
# pages): they build and run the plans every round runs.  The timed crawl
# still writes its first reaction rows in round 3 and compacts in round 4;
# warming those too would cost ~15 s more a run than the time budget allows
WARMUP_ROUNDS = 2

# frontier-dedup: generated URL rows over many hosts, half pre-seen
FRONTIER_URLS = 100_000
FRONTIER_HOSTS = 10_000
HOT_HOSTS = 8
HOT_SHARE_PCT = 30
FRONTIER_TOKENS = 100
FRONTIER_HOT_THRESHOLD = 1000
FRONTIER_SHARDS = 64
FRONTIER_WARM_PASSES = 2
N_SALTS = 8  # scheduler.per_host_dispatch's default salt count

# crawl-deep's setup_s counts the median of this many input builds (~1 s
# each); traced runs, which do not report setup_s, build once.  The
# frontier's input build (seen table + bloom build, 7-10 s) runs once: two
# more would not fit the run's time budget.
SETUP_REPS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def max_job_id(sc) -> int:
    """Highest Spark job id submitted so far.  Job ids are sequential, so the
    difference across a round is the number of jobs it ran (the status store
    keeps only the last jobs, which rules out counting list lengths)."""
    st = sc.statusTracker()
    ids = list(st.getJobIdsForGroup(None)) + list(st.getActiveJobsIds())
    return max(ids, default=-1)


def _dir_bytes(path: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") or f.endswith(".npz"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return n_files, n_bytes


def _bloom_bytes(eng: CrawlEngine) -> int:
    return _dir_bytes(os.path.join(eng.bloom.path, "bloom", f"v{eng.bloom_version}"))[1]


# ===================================================================== tracing
class EngineProbe:
    """Installs the engine-side wrappers.  Untraced runs wrap only
    ``CrawlEngine.run_round`` with a clock (the round time is an end-to-end
    metric); traced runs wrap every layer entry point the engine calls
    through module or class attributes."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.tracer = Tracer()
        self.rounds: list[dict] = []
        self.gate_calls: list[tuple] = []

    def install(self) -> None:
        t = self.tracer
        self.tracer.patch(CrawlEngine, "run_round", self._run_round(CrawlEngine.run_round))
        if not self.traced:
            return
        t.wrap(S, "distributed_row_number", lambda df, order, out, **k: {
            "__rank": "scheduler.dispatch_rank", "__r": "scheduler.discovery_rank",
        }.get(out, "scheduler.rank"))
        t.wrap(D, "dedup_bloom_gated", "dedup.bloom_gated")
        t.wrap(D.BloomStore, "add", "dedup.filter_update")
        t.wrap(D.BloomStore, "build", lambda *a, **k: (
            "dedup.rebuild" if t.inside("crawl.forget")
            else "dedup.filter_update" if t.round_span is not None
            else "dedup.build"))
        t.wrap(SnapshotStore, "stage", "snapshot.stage")
        t.wrap(SnapshotStore, "publish", "snapshot.publish")
        t.wrap(CrawlEngine, "compact_frontier", "snapshot.compact")
        t.wrap(CrawlEngine, "forget_urls", "crawl.forget")
        t.wrap(CorpusFetcher, "fetch", "fetch.plan")
        gate = D.dedup_bloom_gated  # the span wrapper installed above

        def gated(candidates, seen, bloom, version, key="url_canon", **kw):
            self.gate_calls.append((candidates, bloom, version, key))
            return gate(candidates, seen, bloom, version, key=key, **kw)

        t.patch(D, "dedup_bloom_gated", gated)

    def restore(self) -> None:
        self.tracer.restore()

    def probe_counts(self) -> tuple[int, int]:
        """Candidates and bloom positives of the gate calls since the last
        reading.  Re-probes each call's candidates (same shard version) in
        separate jobs after the round, so the round itself runs unchanged."""
        n = pos = 0
        for cand, bloom, version, key in self.gate_calls:
            row = bloom.probe(cand, version, key).agg(
                F.count(F.lit(1)).alias("n"), F.count_if(F.col("maybe_seen")).alias("pos")
            ).collect()[0]
            n, pos = n + int(row["n"]), pos + int(row["pos"] or 0)
        self.gate_calls.clear()
        return n, pos

    def _run_round(self, orig):
        probe = self

        def run_round(eng):
            rec = {"round": eng.round + 1}
            sc = probe.spark.sparkContext
            if probe.traced:
                man = eng.store.manifest()
                rec["frontier_deltas"] = len(man.get("tables", {}).get("frontier", []))
                t0 = time.perf_counter()
                row = eng.frontier_current().agg(
                    F.count_if(F.col("state") == "pending").alias("pending")
                ).collect()[0]
                rec["merge_s"] = time.perf_counter() - t0
                rec["pending"] = int(row["pending"])
                j0 = max_job_id(sc)
            probe.tracer.round_id = rec["round"]
            with probe.tracer.span("crawl.round") as sp:
                probe.tracer.round_span = sp["id"]
                try:
                    st = orig(eng)
                finally:
                    probe.tracer.round_span = None
            rec["wall"] = sp["end"] - sp["start"]
            rec["span"] = sp["id"]
            if probe.traced:
                rec["jobs"] = max_job_id(sc) - j0
                t0 = time.perf_counter()
                rec["probe_n"], rec["probe_pos"] = probe.probe_counts()
                rec["reprobe_s"] = time.perf_counter() - t0
            rec["stats"] = {k: v for k, v in st.__dict__.items() if k != "extras"}
            probe.rounds.append(rec)
            probe.tracer.round_id = None
            return st

        return run_round

    # ------------------------------------------------------------ analysis
    def round_layers(self) -> list[dict]:
        """Per traced round: wall, seconds per layer (union of that layer's
        spans inside the round), unattributed time and derived counters."""
        kids = self.tracer.children()
        out = []
        for rec in self.rounds:
            sp = next(s for s in self.tracer.spans if s["id"] == rec["span"])
            children = kids.get(sp["id"], [])
            # job 1 (fetch -> parse -> candidate build) runs between the
            # dispatch rank's return and the dedup call: record the gap
            rank = [c for c in children if c["name"] == "scheduler.dispatch_rank"]
            gate = [c for c in children if c["name"] == "dedup.bloom_gated"]
            if rank and gate:
                self.tracer.add_span("crawl.fetch_parse_cand", rank[0]["end"],
                                     gate[0]["start"], sp["id"], rec["round"])
                children = self.tracer.children().get(sp["id"], [])
            by_name: dict[str, list] = {}
            for c in children:
                by_name.setdefault(c["name"], []).append((c["start"], c["end"]))
            layer_s = {n: union_length(iv) for n, iv in by_name.items()}
            covered = union_length([(c["start"], c["end"]) for c in children])
            wall = sp["end"] - sp["start"]
            row = dict(rec, layer_s=layer_s, unattributed_s=wall - covered,
                       overlap_s=sum(layer_s.values()) - covered)
            out.append(row)
        return out


def _fit_line(xs: list[float], ys: list[float]) -> tuple[float, float]:
    """Least-squares intercept and slope (0 slope for a single point)."""
    if len(xs) < 2 or len(set(xs)) < 2:
        return (_median(ys), 0.0)
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
    return my - slope * mx, slope


# ===================================================================== crawl
_CMT_ID = re.compile(r'<div id="(c[^"]+)"><div><h3>')
_RXN = re.compile(r'<img alt="([^"]+)" src="/e.png" /><span>(\d+)</span>')


def _corpus(spark, site):
    _, corpus = datagen.site_to_dataframes(spark, site)
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism).cache()
    corpus.count()
    return corpus


def _crawl_once(spark, site, corpus, workdir, max_rounds=50):
    ckpt = tempfile.mkdtemp(prefix="crawl-", dir=workdir)
    t0 = time.perf_counter()
    eng = CrawlEngine(spark, ckpt, CorpusFetcher(corpus), **ENGINE)
    eng.seed(site.seeds)
    stats = eng.run(max_rounds=max_rounds)
    return eng, stats, time.perf_counter() - t0


def check_crawl(spark, eng, site, sim) -> dict:
    """Correctness gate for a completed crawl: the engine's seen set and
    fetched set against the reference simulator and the site, and every
    extracted post, comment and reaction row against the generator."""
    detail = {}
    seen = eng.seen_set()
    order = eng.fetch_order()
    fetched = set(order)
    detail["seen_diff"] = len(seen ^ sim.seen)
    detail["fetched_diff"] = len(fetched ^ set(site.nodes))
    detail["dup_fetches"] = len(order) - len(fetched)

    posts = eng.store.read(spark, "posts")
    got = {r.doc_id: [tuple(s) for s in r.spans]
           for r in posts.select("doc_id", "spans").collect()} if posts else {}
    want = {r.doc_id: [tuple(s) for s in r.spans]
            for r in datagen.spans_corpus(spark, site).collect()}
    detail["post_diff"] = (sum(got.get(k) != v for k, v in want.items())
                           + len(got.keys() - want.keys()))

    cmts = eng.store.read(spark, "comments")
    got_c = {(r.doc_id, r.comment_id) for r in cmts.select("doc_id", "comment_id").collect()} \
        if cmts else set()
    want_c = {(n.doc_id, cid) for n in site.nodes.values()
              if n.kind in ("post", "comment") for cid in _CMT_ID.findall(n.html)}
    detail["comment_diff"] = len(got_c ^ want_c)

    rx = eng.store.read(spark, "reactions")
    got_r = {r.doc_id: dict(r.reactions) for r in rx.select("doc_id", "reactions").collect()} \
        if rx else {}
    want_r = {n.doc_id: {k: int(v) for k, v in _RXN.findall(n.html)}
              for n in site.nodes.values() if n.kind == "reaction"}
    detail["reaction_diff"] = (sum(got_r.get(k) != v for k, v in want_r.items())
                               + len(got_r.keys() - want_r.keys()))

    records = len(want) + len(want_c) + len(want_r)
    failed = sum(detail.values())
    return {"attempted": len(site.nodes) + records, "failed": failed, "detail": detail}


def parse_costs(site, min_s: float = 0.2) -> tuple[dict[str, float], int]:
    """µs per document of the fused parse UDF, per page kind, timed in this
    process by calling ``parse_all`` on one pandas batch of the site's own
    HTML; and the rows it emits over the whole site."""
    import pandas as pd

    us, rows_out = {}, 0
    for kind in ("page", "post", "comment", "reaction"):
        nodes = [n for n in site.nodes.values() if n.kind == kind]
        pdf = pd.DataFrame({
            "doc_id": [n.doc_id for n in nodes], "url": [n.url for n in nodes],
            "group_id": [n.group_id for n in nodes], "post_id": [n.post_id for n in nodes],
            "kind": kind, "__rank": range(len(nodes)), "html": [n.html for n in nodes],
        })
        reps, total = [], 0.0
        while total < min_s or len(reps) < 3:
            t0 = time.perf_counter()
            out = list(P.parse_all(iter([pdf])))
            reps.append(time.perf_counter() - t0)
            total += reps[-1]
        rows_out += sum(len(o) for o in out)
        us[kind] = _median(reps) / max(len(nodes), 1) * 1e6
    return us, rows_out


def crawl_deep(spark, seed: int, seconds: float, trace: bool, workdir: str) -> dict:
    setup = {}
    builds = []
    corpus = None
    for _ in range(1 if trace else SETUP_REPS):
        if corpus is not None:
            corpus.unpersist()
        t0 = time.perf_counter()
        site = datagen.make_site(seed=seed, **DEEP_SITE)
        corpus = _corpus(spark, site)
        builds.append(time.perf_counter() - t0)
    setup["inputs_s"] = _median(builds)

    # untimed warm-up leg: the first rounds of a crawl of the same site on an
    # engine of its own.  They start the Python workers and run the round's
    # plans, so the JIT has compiled them before the timed crawl.  A cold
    # crawl takes ~35-40 s and moves by up to 20% between runs on a shared
    # host; a warm one takes ~25 s and moves much less.
    _, _, setup["warmup_s"] = _crawl_once(spark, site, corpus, workdir, WARMUP_ROUNDS)

    sim = simulate(site)
    if trace:
        # the traced crawl replaces the untraced one: both would not fit the
        # run's time limit.  End-to-end metrics come from untraced runs.
        layers, checks = _traced_crawl(spark, site, sim, corpus, workdir)
        corpus.unpersist()
        return {"e2e": {}, "setup": setup, "layers": layers, "checks": checks}

    # ---- timed section: closed loop of whole crawls (tracing off)
    clock = EngineProbe(spark, traced=False)
    clock.install()
    walls, urls_per_s, rounds_s = [], [], []
    try:
        t_end = time.perf_counter() + seconds
        while True:
            clock.rounds.clear()
            eng, stats, wall = _crawl_once(spark, site, corpus, workdir)
            fetched = sum(s.fetched for s in stats)
            walls.append(wall)
            urls_per_s.append(fetched / wall)
            rounds_s += [r["wall"] for r in clock.rounds if r["stats"]["dispatched"]]
            if time.perf_counter() >= t_end:
                break
    finally:
        clock.restore()
    t0 = time.perf_counter()
    checks = check_crawl(spark, eng, site, sim)
    checks["check_s"] = time.perf_counter() - t0
    corpus.unpersist()
    _add_fetch_failures(checks, stats)
    e2e = {
        "urls_per_s": _median(urls_per_s), "wall_s": _median(walls),
        "round_s_p50": _median(rounds_s),
        "crawls": len(walls), "urls": len(site.nodes),
        "work_rounds": sum(1 for s in stats if s.dispatched),
        "round_walls": [r["wall"] for r in clock.rounds],
    }
    return {"e2e": e2e, "setup": setup, "layers": None, "checks": checks}


def _add_fetch_failures(checks: dict, stats) -> None:
    checks["attempted"] += sum(s.dispatched for s in stats)
    checks["failed"] += sum(s.failed for s in stats)
    checks["detail"]["fetch_failed"] = sum(s.failed for s in stats)


def _traced_crawl(spark, site, sim, corpus, workdir):
    probe = EngineProbe(spark, traced=True)
    probe.install()
    try:
        eng, stats, wall = _crawl_once(spark, site, corpus, workdir)
        n_crawl_rounds = len(probe.rounds)
        checks = check_crawl(spark, eng, site, sim)
        _add_fetch_failures(checks, stats)
        ckpt_files, ckpt_bytes = _snapshot_bytes(eng)
        shard_bytes = _bloom_bytes(eng)

        # incremental refresh: forget every listing page, re-seed, drain.
        # Every post link the listings discover is already seen.
        listing = sorted(u for u, n in site.nodes.items() if n.kind == "page")
        seen_before = eng.seen_set()
        fetched_before = len(eng.fetch_order())
        t0 = time.perf_counter()
        with probe.tracer.span("crawl.refresh"):
            eng.forget_urls(spark.createDataFrame([(u,) for u in listing], "url_canon string"))
            eng.seed(site.seeds)
            rstats = eng.run(max_rounds=50)
        refresh_wall = time.perf_counter() - t0
        refetched = eng.fetch_order()[fetched_before:]
        expect_enq = len(listing) - len(site.seeds)
        rdetail = {
            "refetched_diff": (len(set(refetched) ^ set(listing))
                               + len(refetched) - len(set(refetched))),
            "enqueued_diff": abs(sum(s.enqueued for s in rstats) - expect_enq),
            "seen_changed": len(eng.seen_set() ^ seen_before),
        }
        checks["detail"]["refresh"] = rdetail
        checks["attempted"] += len(listing) + sum(s.dispatched for s in rstats)
        checks["failed"] += sum(rdetail.values()) + sum(s.failed for s in rstats)
    finally:
        probe.restore()

    rows = probe.round_layers()
    crawl_rows, refresh_rows = rows[:n_crawl_rounds], rows[n_crawl_rounds:]
    work = [r for r in crawl_rows if r["stats"]["dispatched"]]
    spans = probe.tracer.spans

    def layer_total(name):
        return sum(r["layer_s"].get(name, 0.0) for r in crawl_rows)

    def span_total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    # the drained last round returns early, so it is not on the line
    fixed, slope = _fit_line([r["stats"]["dispatched"] for r in work],
                             [r["wall"] for r in work])
    cand = sum(r["probe_n"] for r in crawl_rows)
    pos = sum(r["probe_pos"] for r in crawl_rows)
    enq_probed = sum(r["stats"]["enqueued"] for r in crawl_rows if r["probe_n"])
    r_cand = sum(r["probe_n"] for r in refresh_rows)
    r_pos = sum(r["probe_pos"] for r in refresh_rows)
    parse_us, parse_rows = parse_costs(site)
    tot = lambda k: sum(r["stats"][k] for r in crawl_rows)  # noqa: E731

    layers = {
        "crawl.round_s": sum(r["wall"] for r in crawl_rows),
        "crawl.round_p50_s": _median([r["wall"] for r in work]),
        "crawl.unattributed_s": sum(r["unattributed_s"] for r in crawl_rows),
        "crawl.overlap_s": sum(r["overlap_s"] for r in crawl_rows),
        "crawl.rounds": len(crawl_rows),
        "crawl.spark_jobs": sum(r["jobs"] for r in crawl_rows),
        "crawl.spark_jobs_per_round": _median([r["jobs"] for r in work]),
        "crawl.fetch_parse_cand_s": layer_total("crawl.fetch_parse_cand"),
        "crawl.fixed_s": fixed,
        "crawl.per_url_us": slope * 1e6,
        "crawl.forget_s": span_total("crawl.forget"),
        "crawl.refresh_s": refresh_wall,
        "round.dispatched": tot("dispatched"),
        "round.fetched": tot("fetched"),
        "round.discovered": tot("discovered"),
        "round.deduped": tot("deduped"),
        "round.enqueued": tot("enqueued"),
        "round.parsed_posts": tot("parsed_posts"),
        "round.parsed_comments": tot("parsed_comments"),
        "snapshot.stage_s": layer_total("snapshot.stage"),
        "snapshot.publish_s": layer_total("snapshot.publish"),
        "snapshot.compact_s": layer_total("snapshot.compact"),
        "snapshot.files": ckpt_files,
        "snapshot.bytes": ckpt_bytes,
        "snapshot.frontier_files": max(r["frontier_deltas"] for r in crawl_rows),
        "frontier.merge_s": sum(r["merge_s"] for r in crawl_rows),
        "frontier.pending_rows": sum(r["pending"] for r in crawl_rows),
        "scheduler.dispatch_rank_s": layer_total("scheduler.dispatch_rank"),
        "scheduler.discovery_rank_s": layer_total("scheduler.discovery_rank"),
        "scheduler.dispatched_rows": tot("dispatched"),
        "fetch.rows": tot("dispatched"),
        "fetch.failed_rows": tot("failed"),
        "parse.us_per_doc.page": parse_us["page"],
        "parse.us_per_doc.post": parse_us["post"],
        "parse.us_per_doc.comment": parse_us["comment"],
        "parse.us_per_doc.reaction": parse_us["reaction"],
        "parse.rows_out": parse_rows,
        "dedup.filter_update_s": layer_total("dedup.filter_update"),
        "dedup.rebuild_s": span_total("dedup.rebuild"),
        "dedup.candidates": cand,
        "dedup.bloom_positive_share": pos / cand if cand else 0.0,
        "dedup.confirm_rows": pos,
        "dedup.false_positive_share": (enq_probed - (cand - pos)) / pos if pos else 0.0,
        "dedup.shard_bytes": shard_bytes,
        "refresh.candidates": r_cand,
        "refresh.bloom_positive_share": r_pos / r_cand if r_cand else 0.0,
        "trace.spans": len(spans),
        "trace.wall_s": wall,
        # the tracer's own Spark work inside the traced crawl's wall: the
        # pre-round merge counts and the post-round re-probes
        "trace.overhead_s": sum(r["merge_s"] + r["reprobe_s"] for r in crawl_rows),
    }
    detail = {"rounds": [_round_summary(r) for r in rows], "spans": probe.tracer.dump()}
    return {"metrics": layers, "trace": detail}, checks


def _round_summary(r: dict) -> dict:
    return {k: r[k] for k in ("round", "wall", "unattributed_s", "overlap_s", "layer_s",
                              "jobs", "pending", "merge_s", "reprobe_s", "probe_n",
                              "probe_pos", "frontier_deltas", "stats")}


def _snapshot_bytes(eng: CrawlEngine) -> tuple[int, int]:
    man = eng.store.manifest()
    files = size = 0
    for paths in man.get("tables", {}).values():
        for rel in paths:
            f, b = _dir_bytes(os.path.join(eng.store.path, rel))
            files += f
            size += b
    return files, size


# ===================================================================== frontier
def _coprime(n: int, rng: random.Random) -> int:
    while True:
        a = rng.randrange(1, n)
        if math.gcd(a, n) == 1:
            return a


def frontier_urls(ids, key, n_hosts: int, seed: int):
    """Messy URL rows (tracking params, fragment, mixed-case host) for the
    integer URL keys in column ``key``; ~HOT_SHARE_PCT% of keys land on
    HOT_HOSTS hot hosts, the rest spread over ``n_hosts`` hosts."""
    k = F.col(key)
    hot = F.pmod(F.xxhash64(k, F.lit(seed)), F.lit(100)) < HOT_SHARE_PCT
    host = F.when(hot, F.pmod(k, F.lit(HOT_HOSTS))).otherwise(
        F.lit(HOT_HOSTS) + F.pmod(F.xxhash64(k, F.lit(seed + 1)), F.lit(n_hosts - HOT_HOSTS))
    ).cast("string")
    return ids.select(
        *[c for c in ids.columns if c != key],
        k.alias("key"),
        F.concat(
            F.lit("https://H"), host, F.lit(".Example.com/groups/g"), host,
            F.lit("/permalink/"), k.cast("string"),
            F.lit("/?refid=18&fbclid=T"), k.cast("string"),
            F.lit("&p="), ((k % 7) * 10).cast("string"), F.lit("#frag"),
        ).alias("url"),
    )


class Frontier:
    """Generated frontier: ``n`` input URLs in a seeded permuted order, of
    which the keys below n/2 are pre-seen (seen table + bloom shards)."""

    def __init__(self, spark, n: int, seed: int, workdir: str):
        self.spark, self.n, self.seed = spark, n, seed
        self.parts = spark.sparkContext.defaultParallelism
        rng = random.Random(seed)
        self.a, self.b = _coprime(n, rng), rng.randrange(n)
        self.bloom = D.BloomStore(tempfile.mkdtemp(prefix="bloom-", dir=workdir),
                                  n_shards=FRONTIER_SHARDS)
        self.seen = (
            frontier_urls(spark.range(0, n // 2, numPartitions=self.parts)
                          .withColumnRenamed("id", "k"), "k", FRONTIER_HOSTS, seed)
            .select(U.canonicalize(F.col("url")).alias("url_canon"))
            .select("url_canon", D.bucket_of(F.col("url_canon"), FRONTIER_SHARDS).alias("bucket"))
            .persist()
        )
        self.seen.count()
        self.bloom.build(self.seen, version=1)

    def release(self) -> None:
        self.seen.unpersist()

    def raw(self):
        ids = self.spark.range(0, self.n, numPartitions=self.parts).withColumn(
            "k", (F.col("id") * F.lit(self.a) + F.lit(self.b)) % F.lit(self.n))
        # FIFO by input position, so the permuted order decides which URLs
        # of a host fit its budget
        return frontier_urls(ids, "k", FRONTIER_HOSTS, self.seed).withColumnRenamed(
            "id", "enqueued_seq")

    def candidates(self):
        return (
            self.raw()
            .withColumn("url_canon", U.canonicalize(F.col("url")))
            .withColumn("host", U.host_of(F.col("url_canon")))
            .withColumn("kind", U.classify_kind(F.col("url_canon")))
            .withColumn("priority", U.priority_of(F.col("kind")))
        )

    def fresh(self, cand, cleanup):
        return D.dedup_bloom_gated(cand, self.seen, self.bloom, 1, cleanup=cleanup)

    def dispatch(self, fresh):
        return S.per_host_dispatch(fresh, default_tokens=FRONTIER_TOKENS,
                                   hot_host_threshold=FRONTIER_HOT_THRESHOLD)

    def full_pass(self) -> tuple[float, int]:
        cleanup: list = []
        t0 = time.perf_counter()
        n_disp = self.dispatch(self.fresh(self.candidates(), cleanup)).count()
        dt = time.perf_counter() - t0
        for df in cleanup:
            df.unpersist()
        return dt, n_disp


def check_frontier(fr: Frontier) -> dict:
    """The bloom-gated fresh set must equal the plain ``dedup_exact``
    anti-join (and the generator's unseen half); the dispatch must take
    min(fresh, budget) rows per host, per salt on hot hosts.  The sets are
    compared by row count and the sum of their URL hashes, which is cheaper
    than joining them; the input URLs are distinct, so equal fingerprints
    also rule out duplicates."""
    cleanup: list = []
    cand = fr.candidates().persist()
    fresh = fr.fresh(cand, cleanup).persist()
    # both fingerprints in one job: one row per side
    sides = fresh.select(F.lit(0).alias("side"), "url_canon").unionByName(
        D.dedup_exact(cand, fr.seen).select(F.lit(1).alias("side"), "url_canon"))
    fp = {r["side"]: (int(r["n"]), int(r["h"] or 0)) for r in sides.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url_canon").cast("decimal(38,0)")).alias("h")).collect()}
    got, want = fp.get(0, (0, 0)), fp.get(1, (0, 0))
    sym = 0
    if got != want:  # name the difference only when there is one
        a, b = fresh.select("url_canon").alias("a"), D.dedup_exact(cand, fr.seen).alias("b")
        sym = a.join(b, F.col("a.url_canon") == F.col("b.url_canon"), "full_outer").filter(
            F.col("a.url_canon").isNull() | F.col("b.url_canon").isNull()).count()

    host_n = fresh.groupBy("host").agg(F.count(F.lit(1)).alias("hn"))
    hot = F.col("hn") > FRONTIER_HOT_THRESHOLD
    per_salt = max(FRONTIER_TOKENS // N_SALTS, 1)
    want_disp = (
        fresh.join(host_n, "host")
        .withColumn("salt", F.when(hot, F.pmod(F.xxhash64("url_canon"), F.lit(N_SALTS)))
                    .otherwise(F.lit(0)))
        .withColumn("budget", F.when(hot, F.lit(per_salt)).otherwise(F.lit(FRONTIER_TOKENS)))
        .groupBy("host", "salt", "budget").agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.least("c", "budget")).alias("d"),
             F.sum(F.when(F.col("salt") > 0, 1).otherwise(0)).alias("hot_groups"))
        .collect()[0]
    )
    n_disp = fr.dispatch(fresh).count()
    detail = {
        "fresh_vs_exact": sym,
        "fresh_vs_generator": abs(got[0] - (fr.n - fr.n // 2)),
        "dispatch_vs_budget": abs(n_disp - int(want_disp["d"])),
    }
    for df in (fresh, cand, *cleanup):
        df.unpersist()
    return {"attempted": fr.n + n_disp, "failed": sum(detail.values()), "detail": detail,
            "counts": {"fresh": got[0], "dispatched": n_disp,
                       "hot_salt_groups": int(want_disp["hot_groups"] or 0)}}


def frontier_dedup(spark, seed: int, seconds: float, trace: bool, workdir: str) -> dict:
    setup = {}
    t0 = time.perf_counter()
    fr = Frontier(spark, FRONTIER_URLS, seed, workdir)
    setup["inputs_s"] = time.perf_counter() - t0
    # warm-up leg: the correctness gate's pass over the same input, then
    # plain passes (pass times keep falling over the first few full passes)
    t0 = time.perf_counter()
    checks = check_frontier(fr)
    for _ in range(FRONTIER_WARM_PASSES):
        fr.full_pass()
    setup["warmup_s"] = time.perf_counter() - t0

    walls, dispatched = [], []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        dt, n_disp = fr.full_pass()
        walls.append(dt)
        dispatched.append(n_disp)
    checks["attempted"] += fr.n * len(walls)
    # every timed pass must dispatch the checked pass's row count
    checks["detail"]["pass_dispatch_mismatch"] = sum(
        d != checks["counts"]["dispatched"] for d in dispatched)
    checks["failed"] += checks["detail"]["pass_dispatch_mismatch"]
    wall = _median(walls)
    e2e = {"urls_per_s": fr.n / wall, "wall_s": wall, "round_s_p50": wall,
           "passes": len(walls), "urls": fr.n, "pass_walls": walls}
    layers = _traced_frontier(spark, fr, wall, checks["counts"]) if trace else None
    fr.release()
    return {"e2e": e2e, "setup": setup, "layers": layers, "checks": checks}


def _traced_frontier(spark, fr: Frontier, untraced_wall: float, counts: dict):
    """Layer times from cumulative prefixes of the pipeline: generate, then
    canonicalize, then bloom probe, then exact confirm, then dispatch.  Each
    prefix is one pass of its own; a layer's time is the difference between
    consecutive prefixes."""
    probe = EngineProbe(spark, traced=True)
    probe.install()
    try:
        prefix_s = {}

        def timed(name, build):
            cleanup: list = []
            t0 = time.perf_counter()
            with probe.tracer.span(f"frontier.prefix.{name}"):
                df = build(cleanup)
                # hash every column, so no prefix's columns are pruned away
                n = df.agg(F.count(F.lit(1)).alias("n"),
                           F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]["n"]
            prefix_s[name] = time.perf_counter() - t0
            for df in cleanup:
                df.unpersist()
            return n

        timed("generate", lambda c: fr.raw())
        timed("canonicalize", lambda c: fr.candidates())
        timed("probe", lambda c: fr.bloom.probe(fr.candidates(), 1))
        timed("confirm", lambda c: fr.fresh(fr.candidates(), c))
        n_disp = timed("dispatch", lambda c: fr.dispatch(fr.fresh(fr.candidates(), c)))
        probe.gate_calls[:] = [(fr.candidates(), fr.bloom, 1, "url_canon")]
        cand, pos = probe.probe_counts()
    finally:
        probe.restore()
    fresh = counts["fresh"]
    m = {
        "urls.canonicalize_s": prefix_s["canonicalize"] - prefix_s["generate"],
        "dedup.probe_s": prefix_s["probe"] - prefix_s["canonicalize"],
        "dedup.confirm_s": prefix_s["confirm"] - prefix_s["probe"],
        "scheduler.dispatch_s": prefix_s["dispatch"] - prefix_s["confirm"],
        "scheduler.dispatched_rows": n_disp,
        "dedup.candidates": cand,
        "dedup.bloom_positive_share": pos / cand if cand else 0.0,
        "dedup.confirm_rows": pos,
        "dedup.false_positive_share": (fresh - (cand - pos)) / pos if pos else 0.0,
        "dedup.shard_bytes": _dir_bytes(os.path.join(fr.bloom.path, "bloom", "v1"))[1],
        "trace.spans": len(probe.tracer.spans),
        "trace.wall_s": prefix_s["dispatch"],
        "trace.overhead_s": prefix_s["dispatch"] - untraced_wall,
    }
    detail = {"prefix_s": prefix_s, "spans": probe.tracer.dump()}
    return {"metrics": m, "trace": detail}


WORKLOADS = {"crawl-deep": crawl_deep, "frontier-dedup": frontier_dedup}

# every per-layer metric; a workload that does not exercise a layer reports 0
LAYER_NAMES = [
    "crawl.round_s", "crawl.round_p50_s", "crawl.unattributed_s", "crawl.overlap_s",
    "crawl.rounds", "crawl.spark_jobs", "crawl.spark_jobs_per_round",
    "crawl.fetch_parse_cand_s", "crawl.fixed_s", "crawl.per_url_us", "crawl.forget_s",
    "crawl.refresh_s",
    "round.dispatched", "round.fetched", "round.discovered", "round.deduped",
    "round.enqueued", "round.parsed_posts", "round.parsed_comments",
    "snapshot.stage_s", "snapshot.publish_s", "snapshot.compact_s", "snapshot.files",
    "snapshot.bytes", "snapshot.frontier_files",
    "frontier.merge_s", "frontier.pending_rows",
    "scheduler.dispatch_rank_s", "scheduler.discovery_rank_s", "scheduler.dispatch_s",
    "scheduler.dispatched_rows",
    "fetch.rows", "fetch.failed_rows",
    "parse.us_per_doc.page", "parse.us_per_doc.post", "parse.us_per_doc.comment",
    "parse.us_per_doc.reaction", "parse.rows_out",
    "urls.canonicalize_s",
    "dedup.probe_s", "dedup.confirm_s", "dedup.filter_update_s", "dedup.rebuild_s",
    "dedup.candidates", "dedup.bloom_positive_share", "dedup.confirm_rows",
    "dedup.false_positive_share", "dedup.shard_bytes",
    "refresh.candidates", "refresh.bloom_positive_share",
    "trace.spans", "trace.wall_s", "trace.overhead_s",
]
