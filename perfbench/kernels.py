"""``functions`` layer: the Python kernels alone (L0) and inside their
Arrow stage (L1), on fixed batches drawn from a workload's pages.

L0 calls the kernel in this process. L1 runs the very same function in
its ``mapInPandas`` / ``pandas_udf`` stage over a cached frame, so the
stage's task time minus the L0 time is Arrow + Spark overhead.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import functions as F

from walker_spark.functions import fnv, htmlparse, robots, udfs, urlkernel
from walker_spark.operators.fetch import _PARSE_OUT, _make_parse_fn

from perfbench.corpus import materialize

L1_PARSE_ROWS = 8000
L1_URL_ROWS = 40000


def _rate(fn, items: int, min_s: float = 0.3) -> tuple[float, float]:
    """(items per second, seconds per pass) of ``fn`` over a batch of
    ``items``, repeating whole passes for at least ``min_s``."""
    passes, t0 = 0, time.perf_counter()
    while True:
        fn()
        passes += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return items * passes / dt, dt / passes


def _url_variants(urls: list[str]) -> list[str]:
    """Page URLs plus forms that normalize onto them."""
    out = list(urls)
    for u in urls:
        scheme, rest = u.split("://", 1)
        host, _, path = rest.partition("/")
        out.append(f"{scheme.upper()}://{host.upper()}:80/{path}#frag")
        out.append(f"{u};jsessionid=ABC123")
    return out


def kernel_metrics(spark, tracer, pages: pd.DataFrame, cfg, now_ms: int, cores: int) -> dict[str, float]:
    is_html = ~pages["url"].str.endswith(("/robots.txt", ".png"))
    html_pages = pages[is_html].reset_index(drop=True)
    bodies = [bytes(h) for h in html_pages["html"]]
    n_bytes = sum(len(b) for b in bodies)
    robots_bodies = [htmlparse.decode_html(bytes(h)) for h in pages[~is_html & pages["url"].str.endswith("/robots.txt")]["html"]]
    urls = _url_variants(list(html_pages["url"]))
    pcfg = htmlparse.parser_cfg(cfg.fetcher.ignore_tags, cfg.fetcher.honor_meta_nofollow, cfg.fetcher.purge_sid_list)
    sids = cfg.fetcher.purge_sid_list
    ua = cfg.fetcher.user_agent
    out: dict[str, float] = {}

    # ---- L0 ---------------------------------------------------------------
    rows_s, pass_s = _rate(lambda: [htmlparse.parse_html(b, pcfg) for b in bodies], len(bodies))
    out["functions.parse_html.rows_per_s"] = rows_s
    out["functions.parse_html.mb_per_s"] = n_bytes / pass_s / 2**20
    out["functions.normalize_url.rows_per_s"] = _rate(
        lambda: [urlkernel.normalize_url(u, sids) for u in urls], len(urls))[0]
    out["functions.fnv1_64_batch.mb_per_s"] = n_bytes / _rate(lambda: fnv.fnv1_64_batch(bodies), len(bodies))[1] / 2**20
    out["functions.robots_group_for.rows_per_s"] = _rate(
        lambda: [robots.group_for(b, ua) for b in robots_bodies], len(robots_bodies))[0]

    # ---- L1: the parse stage ----------------------------------------------
    keys = [urlkernel.primary_key(urlkernel.normalize_url(u, sids), sids) for u in html_pages["url"]]
    stage_in = pd.DataFrame({
        "dom": [k[0] for k in keys], "subdom": [k[1] for k in keys],
        "path": [k[2] for k in keys], "proto": [k[3] for k in keys],
        "url": html_pages["url"], "html": bodies, "mime": "text/html",
        "found": True, "not_modified": False,
    })
    reps = -(-L1_PARSE_ROWS // len(stage_in))
    stage_in = pd.concat([stage_in] * reps, ignore_index=True)
    parse_fn = _make_parse_fn(cfg, now_ms)
    batch = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch
    t0 = time.perf_counter()
    for _ in parse_fn(stage_in.iloc[i:i + batch] for i in range(0, len(stage_in), batch)):
        pass
    l0_parse_s = time.perf_counter() - t0

    frame = spark.createDataFrame(stage_in).repartition(2 * cores).cache()
    frame.count()
    with tracer.span("functions.parse_stage") as span:
        materialize(frame.mapInPandas(parse_fn, _PARSE_OUT))
    frame.unpersist()

    # ---- L1: the normalize UDF --------------------------------------------
    url_frame = spark.createDataFrame(
        pd.DataFrame({"url": (urls * (-(-L1_URL_ROWS // len(urls))))[:L1_URL_ROWS]})
    ).repartition(2 * cores).cache()
    url_frame.count()
    key_udf = udfs.make_url_key_udf(sids)
    with tracer.span("functions.normalize_udf") as url_span:
        materialize(url_frame.select(key_udf(F.col("url")).alias("k")))
    url_frame.unpersist()

    tracer.collect_jobs()
    out["functions.parse_stage.rows_per_s"] = len(stage_in) / span.wall
    out["functions.normalize_udf.rows_per_s"] = L1_URL_ROWS / url_span.wall
    task_s = sum(j.run_s for j in span.jobs)
    out["functions.arrow_overhead_frac"] = 1.0 - l0_parse_s / task_s if task_s else 0.0
    return out
