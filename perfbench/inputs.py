"""Seeded inputs for the benchmark workloads.

The documents are the sf0.1 ``documents`` table, committed next to this
file; the pages corpus is built from it with the package's own
``synth`` templates. The replica host names, the seen set and the query
mix are pure functions of the workload seed. The loopback web server
that stands in for the synthetic web in the traced live-fetch crawl
also lives here; it records every GET it serves.
"""

from __future__ import annotations

import os
import random
import threading
import time
from collections import Counter
from datetime import timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "sf0.1-documents.parquet")


def make_documents(n_docs: int) -> tuple[list[tuple[int, str, str]], list[str]]:
    """The first ``n_docs`` (doc_id, text, lang) rows of the sf0.1
    ``documents`` table (data/sf0.1-documents.parquet, 5000 rows), plus
    its vocabulary ranked by frequency (ties by word)."""
    import pyarrow.parquet as pq

    t = pq.read_table(DOCUMENTS, columns=["doc_id", "text", "lang"]).to_pydict()
    rows = sorted(zip(t["doc_id"], t["text"], t["lang"]))[:n_docs]
    if len(rows) < n_docs:
        raise ValueError(f"{DOCUMENTS} has {len(rows)} documents, {n_docs} wanted")
    counts = Counter(w for _, text, _ in rows for w in text.split())
    return rows, sorted(counts, key=lambda w: (-counts[w], w))


def replica_prefixes(seed: int, replicas: int) -> list[str]:
    """Distinct host prefixes for the replicated corpus; replica k of
    ``https://site03.example.com/x`` is ``https://<prefix_k>site03...``."""
    rng = random.Random(seed * 7919 + 1)
    tag = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(4))
    return [f"{tag}{k}." for k in range(replicas)]


def write_corpus(path: str, docs, prefixes: list[str], files_per_replica: int = 8) -> int:
    """pages_corpus parquet (url, warc_ts, html, text, lang) with every
    document replicated under each host prefix, written with pyarrow so
    set-up spends no Spark job on synthesis. Cells are the same pure
    functions of (doc_id, text, lang, N) that ``synth.corpus_from_documents``
    uses; each replica is split into several files so the scan has
    enough partitions for every core. Returns the page count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gocrawl_spark import synth

    n = len(docs)
    base = [
        (
            synth.url_of(d),
            synth.pub_date(d).replace(tzinfo=timezone.utc),
            synth.build_html(d, t, la, n).encode("utf-8"),
            t,
            la,
        )
        for d, t, la in docs
    ]
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*base))
    step = -(-n // files_per_replica)
    for k, pre in enumerate(prefixes):
        urls = [u.replace("https://", "https://" + pre, 1) for u in cols[0]]
        table = pa.table([urls, *cols[1:]], schema=schema)
        for j in range(files_per_replica):
            pq.write_table(
                table.slice(j * step, step),
                os.path.join(path, f"part-{k:03d}-{j:03d}.parquet"),
            )
    return n * len(prefixes)


def seen_urls(seed: int, docs, min_size: int) -> list[str]:
    """A steady-state seen set: every base-host page (where most
    absolute links point, so the Bloom prefilter rejects them) plus
    seeded previously-crawled URLs on other hosts up to ``min_size``."""
    from gocrawl_spark import synth

    rng = random.Random(seed * 104729 + 3)
    urls = [synth.url_of(d) for d, _, _ in docs]
    while len(urls) < min_size:
        urls.append(
            f"https://old{rng.randrange(4096):04d}.example.org/p/{rng.randrange(1 << 40)}"
        )
    return urls


def write_urls(path: str, urls: list[str], files: int = 4) -> int:
    """One-column (url) parquet in ``files`` files under ``path``,
    written with pyarrow so set-up ships no rows from Python to Spark;
    the files give the scan one partition per core. Returns the row
    count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table({"url": pa.array(urls, pa.string())})
    step = -(-len(urls) // files)
    for j in range(files):
        pq.write_table(table.slice(j * step, step), os.path.join(path, f"part-{j:03d}.parquet"))
    return len(urls)


def extract_in_process(docs) -> "pd.DataFrame":
    """Flat extraction rows (url, content_type, article_valid, a_*, p_*)
    of every document, from ``udfs.make_extract_fn`` called in this
    process: the engine's own extraction function, no Spark job."""
    import pandas as pd

    from gocrawl_spark import synth, udfs
    from gocrawl_spark.extract import ArticleSelectors, PageSelectors

    n = len(docs)
    fn = udfs.make_extract_fn(
        ArticleSelectors.default(), PageSelectors.default(), want_links=False
    )
    pdf = pd.DataFrame(
        {
            "url": [synth.url_of(d) for d, _, _ in docs],
            "html": [synth.build_html(d, t, la, n).encode("utf-8") for d, t, la in docs],
        }
    )
    return pd.concat(list(fn(iter([pdf]))), ignore_index=True)


def write_warehouse(root: str, flat) -> None:
    """Write the extracted rows as the two warehouse tables
    ``CrawlRun.publish`` produces (valid articles, all pages), with
    pyarrow so set-up runs no Spark job."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import ArrayType, IntegerType, TimestampType

    from gocrawl_spark.schema import ARTICLE, PAGE

    def arrow_type(dt):
        if isinstance(dt, IntegerType):
            return pa.int32()
        if isinstance(dt, TimestampType):
            return pa.timestamp("us", tz="UTC")
        if isinstance(dt, ArrayType):
            return pa.list_(pa.string())
        return pa.string()

    def missing(x) -> bool:
        return x is None or x is pd.NaT or (isinstance(x, float) and x != x)

    is_article = flat["content_type"] == "article"
    for name, schema, prefix, keep in (
        ("articles", ARTICLE, "a_", is_article & flat["article_valid"].astype(bool)),
        ("pages", PAGE, "p_", ~is_article),
    ):
        rows = flat[keep]
        cols = []
        for f in schema.fields:
            vals = [None if missing(x) else x for x in rows[prefix + f.name]]
            if isinstance(f.dataType, IntegerType):
                vals = [None if x is None else int(x) for x in vals]
            cols.append(pa.array(vals, type=arrow_type(f.dataType)))
        os.makedirs(os.path.join(root, name))
        pq.write_table(
            pa.table(cols, names=[f.name for f in schema.fields]),
            os.path.join(root, name, "part-00000.parquet"),
        )


# ---------------------------------------------------------------- web server


class LoopbackWeb:
    """Serves ``pages`` (path ``/<host><path>`` → body) on 127.0.0.1 and
    records (host, path, start, end, status, bytes) per GET. Unknown
    paths are 404s. ``on_get`` is called with each finished record so a
    tracer can turn it into a span."""

    def __init__(self, pages: dict[str, bytes], on_get=None):
        self.pages = pages
        self.log: list[tuple[str, str, float, float, int, int]] = []
        self._lock = threading.Lock()
        web = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):
                pass

            def do_GET(self):
                t0 = time.perf_counter()
                body = web.pages.get(self.path)
                if body is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    status, size = 404, 0
                else:
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    status, size = 200, len(body)
                host, _, path = self.path[1:].partition("/")
                rec = (host, "/" + path, t0, time.perf_counter(), status, size)
                with web._lock:
                    web.log.append(rec)
                if on_get is not None:
                    on_get(rec)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        self.base = f"http://127.0.0.1:{self.server.server_address[1]}"

    def take_log(self) -> list:
        with self._lock:
            out, self.log = self.log, []
        return out

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)


def site_pages(docs, robots_rows) -> dict[str, bytes]:
    """The synthetic web as served: every document at /<host><path>
    plus each site's robots.txt."""
    from gocrawl_spark import synth

    n = len(docs)
    pages = {}
    for d, t, la in docs:
        u = synth.url_of(d)
        pages["/" + u[len("https://"):]] = synth.build_html(d, t, la, n).encode("utf-8")
    for host, rules in robots_rows:
        pages[f"/{host}/robots.txt"] = rules.encode("utf-8")
    return pages


# ---------------------------------------------------------------- query mix


# request kinds in a fixed repeating order, so every window sends the
# same mix whatever the seed: 40 % /search on articles, 30 % /search on
# pages, 30 % /search/dsl
MIX_ORDER = ("articles", "pages", "dsl", "articles", "pages",
             "articles", "dsl", "pages", "articles", "dsl")


def query_mix(seed: int, vocab_by_freq: list[str], n: int) -> list[tuple[str, dict]]:
    """Seeded request list: (path, body), kinds in MIX_ORDER. /search
    queries have one and two terms in turn, so every seed sends the
    same shape of work; the terms are drawn Zipf-skewed (exponent 1.2)
    from the corpus vocabulary ranked by frequency, so popular queries
    repeat. The /search/dsl body is a bool must + should + must_not
    with a terms aggregation on section."""
    rng = random.Random(seed * 15485863 + 5)
    w = [1.0 / (r + 1) ** 1.2 for r in range(len(vocab_by_freq))]

    def terms(k: int) -> str:
        return " ".join(rng.choices(vocab_by_freq, weights=w, k=k))

    out = []
    for i in range(n):
        kind = MIX_ORDER[i % len(MIX_ORDER)]
        if kind != "dsl":
            out.append(("/search", {"query": terms(1 + i % 2), "index": kind}))
        else:
            out.append(
                (
                    "/search/dsl",
                    {
                        "index": "articles",
                        "query": {
                            "bool": {
                                "must": [{"match": {"body": terms(1)}}],
                                "should": [{"match": {"body": terms(1)}}],
                                "must_not": [
                                    {"term": {"section": f"section-{rng.randrange(5)}"}}
                                ],
                            }
                        },
                        "aggs": {"by_section": {"terms": {"field": "section"}}},
                        "size": 10,
                    },
                )
            )
    return out
