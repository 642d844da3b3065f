"""crawl-steady: a converged continuous recrawl through ``CrawlEngine``.

Set-up generates a small synthetic web from the seed, seeds every page
URL, and runs one warm-up superstep, which fetches every seeded page
and pays the JIT and Python worker start-up. Each measured step is one more
superstep: mostly 304 re-fetches whose outlinks are all re-discoveries,
so dispatch select, URL-seen verify, store commits and per-job Spark
constants carry the wall while the parse kernel mostly idles.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

import walker_spark.operators.urlseen as urlseen_mod
import walker_spark.streaming.loop as loop_mod
from walker_spark.config import FrontierConfig, WalkerConfig
from walker_spark.functions import fnv, htmlparse, robots, urlkernel
from walker_spark.operators.fetch import build_bucketed_pages
from walker_spark.sources import synthetic
from walker_spark.streaming.loop import CrawlEngine

START_MS = 1_700_000_000_000
N_DOMAINS = 60
PAGES_PER_DOMAIN = 12
MEGA_FACTOR = 6
# superstep 0 fetches every seeded page and pays the JIT and Python
# worker start-up of the superstep path; later supersteps re-fetch
WARMUP_SUPERSTEPS = 1

STORE_METHODS = ("read", "append", "overwrite", "compact")


class CrawlSteady:
    name = "crawl-steady"
    unit = "crawl URLs"
    min_steps = 1

    def __init__(self, spark, work_dir: str, seed: int, cores: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.cfg = WalkerConfig(
            frontier=FrontierConfig(
                num_domain_buckets=cores,
                claim_limit=N_DOMAINS + 64,  # every domain claimed each superstep
            )
        )
        self.engine = CrawlEngine(spark, os.path.join(work_dir, "store"), self.cfg, use_bloom=True)
        self.store = self.engine.store
        self.steps: list[dict] = []
        self.seed_metrics: dict = {}

    # ---- set-up -----------------------------------------------------------

    def _install_trace(self) -> None:
        t = self.tracer
        t.patch(loop_mod, "run_dispatch", "dispatch.run_dispatch")
        t.patch(loop_mod, "run_fetch", "fetch.run_fetch")
        t.patch(loop_mod, "ingest_urls", "seed.ingest_urls")
        t.patch(urlseen_mod, "filter_unseen", "urlseen.filter_unseen")
        t.patch(urlseen_mod, "build_bloom", "urlseen.build_bloom")
        t.patch(self.engine, "run", "loop.run")
        t.patch(self.engine, "seed", "loop.seed")
        for m in STORE_METHODS:
            t.patch(self.store, m, f"store.{m}")

    def setup(self) -> None:
        if self.tracer is not None:
            self._install_trace()
        pages = synthetic.generate_pages(
            self.spark,
            n_domains=N_DOMAINS,
            pages_per_domain=PAGES_PER_DOMAIN,
            seed=self.seed,
            mega_domain=0,
            mega_factor=MEGA_FACTOR,
            parallelism=self.cores,
        )
        self.store.overwrite("pages", pages)
        build_bucketed_pages(self.store)
        seeds = self.store.read("pages").select("url").filter(~F.col("url").endswith("/robots.txt"))
        self.seed_metrics = self.engine.seed(seeds)
        for _ in range(WARMUP_SUPERSTEPS):
            if self._superstep()["fetch"].get("fetched", 0) == 0:
                raise RuntimeError("warm-up superstep fetched nothing")
        self.warm_links_version = self.store.version("links")

    # ---- measured steps ---------------------------------------------------

    def _superstep(self) -> dict:
        return self.engine.run(iterations=1, start_now_ms=START_MS, from_checkpoint=True)[0]

    def step(self) -> tuple[float, int, bool]:
        t0 = time.perf_counter()
        m = self._superstep()
        wall = time.perf_counter() - t0
        f = m["fetch"]
        units = f.get("fetched", 0) + f.get("robots_excluded", 0) + f.get("outlinks_new", 0)
        self.steps.append({**m, "wall": wall})
        return wall, units, f.get("fetched", 0) > 0

    # ---- output checks ----------------------------------------------------

    def checks(self, history: dict) -> list[tuple[str, bool, str]]:
        links = self.store.read("links").toPandas()
        pages = self.store.read("pages").select("url", "html", "text").toPandas()
        self.links = links
        out = []

        # fetched pages fingerprint like the golden text of the corpus
        golden = dict(zip(pages["url"], pages["text"]))
        ok_rows = links[(links["stat"] == 200) & links["mime"].fillna("").str.startswith("text/html")]
        urls = [
            urlkernel.url_from_key(d, s, p, pr)
            for d, s, p, pr in zip(ok_rows["dom"], ok_rows["subdom"], ok_rows["path"], ok_rows["proto"])
        ]
        texts = [golden.get(u) for u in urls]
        missing = sum(t is None for t in texts)
        want = fnv.fnv1_64_batch([t if t is not None else "" for t in texts]).astype("int64")
        bad = int(((want != ok_rows["fnv_txt"].to_numpy()) & [t is not None for t in texts]).sum())
        out.append(("fnv_txt_matches_golden", missing == 0 and bad == 0 and len(urls) > 0,
                    f"{len(urls)} pages, {bad} mismatched, {missing} without golden text"))

        # the frontier holds each not-yet-crawled key once (robots-excluded
        # results are also stored at epoch, flagged robot_ex)
        frontier = links[
            (links["time"] == pd.Timestamp(0))
            & links["stat"].isna() & links["err"].isna() & links["robot_ex"].isna()
        ]
        dups = int(frontier.duplicated(["dom", "subdom", "path", "proto"]).sum())
        out.append(("no_duplicate_frontier_keys", dups == 0, f"{len(frontier)} frontier rows, {dups} duplicates"))

        # nothing fetched that its host's robots.txt disallows
        bodies = {
            u[: -len("/robots.txt")]: htmlparse.decode_html(bytes(h))
            for u, h in zip(pages["url"], pages["html"])
            if u.endswith("/robots.txt")
        }
        groups: dict[str, robots.RobotsGroup] = {}
        fetched = links[links["stat"].notna() | links["err"].notna()]
        disallowed = 0
        for d, s, p, pr in zip(fetched["dom"], fetched["subdom"], fetched["path"], fetched["proto"]):
            host = f"{s}.{d}" if s else d
            if host not in groups:
                groups[host] = robots.group_for(bodies.get(f"http://{host}"), self.cfg.fetcher.user_agent)
            disallowed += not groups[host].test(p)
        out.append(("robots_respected", disallowed == 0, f"{len(fetched)} fetches, {disallowed} disallowed"))

        # one seed, one history: the links table is a pure function of
        # the seed and the number of supersteps run
        seqs = links["write_seq"].fillna(0)
        digests = {
            f"{self.name}/{self.seed}/warm": frame_digest(links[seqs <= self.warm_links_version]),
            f"{self.name}/{self.seed}/it{len(self.steps) + WARMUP_SUPERSTEPS}": frame_digest(links),
        }
        for key, dig in digests.items():
            prev = history.setdefault("digests", {}).setdefault(key, dig)
            out.append((f"links_digest[{key.split('/')[-1]}]", prev == dig,
                        dig[:12] + ("" if prev == dig else f" != recorded {prev[:12]}")))
        return out

    # ---- per-layer metrics (traced run) -----------------------------------

    def _compact(self) -> None:
        """The links compaction + bloom rebuild ``CrawlEngine.run`` does every
        ``compact_links_every`` supersteps, which a short window never reaches."""
        with self.tracer.span("loop.compact"):
            self.store.compact("links")
            urlseen_mod.build_bloom(self.store, self.cfg.frontier.bloom_fpp)

    def layer_metrics(self, t_measure: float, t_end: float) -> dict[str, float]:
        """The measured supersteps are the spans that start in
        ``[t_measure, t_end]``; the output checks run after ``t_end``."""
        tr = self.tracer
        n = len(self.steps)
        links_deltas = len(self.store._load_manifest("links")["deltas"])
        bytes_written = dir_bytes(self.store.root) - self.bytes_at_measure
        t_compact = time.time()
        self._compact()
        tr.collect_jobs()
        measured = [s for s in tr.spans if t_measure <= s.start <= t_end]
        compaction = [s for s in tr.spans if s.start > t_compact]
        out: dict[str, float] = {}

        def span_s(name: str, spans=measured) -> float:
            """Seconds per measured superstep spent in spans called ``name``."""
            return sum(s.wall for s in spans if s.name == name) / n

        def compaction_s(name: str) -> float:
            return sum(s.wall for s in compaction if s.name == name)

        def timing(side: str, stage: str) -> float:
            return sum(st[side]["timings"].get(stage, 0.0) for st in self.steps) / n

        def total(side: str, key: str) -> float:
            return sum(st[side].get(key, 0) for st in self.steps)

        out["dispatch.wall_s"] = span_s("dispatch.run_dispatch")
        for stage in ("select", "segment_write", "domain_info_merge"):
            out[f"dispatch.{stage}_s"] = timing("dispatch", stage)
        out["dispatch.segment_rows"] = total("dispatch", "segment_rows") / n
        out["dispatch.domains_dispatched"] = total("dispatch", "domains_dispatched") / n

        out["fetch.wall_s"] = span_s("fetch.run_fetch")
        for stage in ("claim", "robots_budget", "fetch_parse", "outlinks_unseen", "links_append", "segments_unclaim"):
            out[f"fetch.{stage}_s"] = timing("fetch", stage)
        for key in ("fetched", "robots_excluded", "outlinks_new"):
            out[f"fetch.{key}"] = total("fetch", key) / n
        now = {pd.Timestamp(st["fetch"]["now_ms"], unit="ms") for st in self.steps}
        rows = self.links[self.links["time"].isin(now)]
        attempts = rows[rows["stat"].notna() | rows["err"].notna()]
        out["fetch.not_modified_frac"] = float((attempts["stat"] == 304).sum()) / max(1, len(attempts))
        out["fetch.fetched_per_segment_row"] = total("fetch", "fetched") / max(1, total("dispatch", "segment_rows"))

        out["urlseen.filter_unseen_s"] = span_s("urlseen.filter_unseen")
        out["urlseen.build_bloom_s"] = compaction_s("urlseen.build_bloom")
        setup_ingest = [s for s in tr.spans if s.name == "seed.ingest_urls" and s.start < t_measure]
        out["seed.ingest_urls_s"] = sum(s.wall for s in setup_ingest)
        out["seed.new_frac"] = self.seed_metrics["links_new"] / max(1, self.seed_metrics["urls_in"])
        out["seed.domains_new"] = self.seed_metrics["domains_new"]

        for m in ("read", "append", "overwrite"):
            out[f"store.{m}_s"] = span_s(f"store.{m}")
        out["store.compact_s"] = compaction_s("store.compact")
        out["store.links_deltas"] = links_deltas
        out["store.bytes_written_mb"] = bytes_written / n / 2**20
        out["store.bytes_per_link"] = live_bytes(self.store, "links") / max(1, len(self.links))

        out["loop.superstep_s"] = span_s("loop.run")
        out["loop.compact_s"] = compaction_s("loop.compact")

        for key, name, spans in (
            ("dispatch", "dispatch.run_dispatch", measured),
            ("fetch", "fetch.run_fetch", measured),
            ("ingest", "seed.ingest_urls", setup_ingest),
        ):
            calls = [s for s in spans if s.name == name]
            per = 1 if key == "ingest" else n  # the one seeding call, or per superstep
            for k, v in tr.spark_summary(calls, self.cores).items():
                out[f"spark.{key}.{k}"] = v if k == "busy_frac" else v / per
        return out

    def mark_measure_start(self) -> None:
        self.bytes_at_measure = dir_bytes(self.store.root)

    def kernel_pages(self) -> pd.DataFrame:
        return self.store.read("pages").select("url", "html").toPandas()

    def describe(self, walls: list[float]) -> list[str]:
        units = sum(st["fetch"].get("fetched", 0) + st["fetch"].get("robots_excluded", 0)
                    + st["fetch"].get("outlinks_new", 0) for st in self.steps)
        return [
            f"crawl_urls_per_s {units / sum(walls):.3f} 1/s",
            f"superstep_s_p50 {statistics.median(walls):.4f} s (n={len(walls)})",
        ]


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest, as the corpus oracle check computes it."""
    from scripts.check_correctness import frame_signature

    return frame_signature(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))[2]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _sub, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def live_bytes(store, table: str) -> int:
    """Bytes of the deltas the table's committed manifest references."""
    return sum(
        dir_bytes(os.path.join(store.root, table, d)) for d in store._load_manifest(table)["deltas"]
    )
