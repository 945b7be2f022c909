"""Output gates. Each returns a list of mismatch descriptions (empty =
correct); the runner aborts the run with ``correct: false`` on any.

- extraction: every extracted article ``body`` / page ``content`` is
  byte-identical to ``synth.expected_article_body`` /
  ``synth.expected_page_content`` of its document;
- seen set: the live crawl's seen set and ``fetched_round`` equal
  the robots-allowed seeds, computed in pure Python;
- politeness: no robots-disallowed path reached the server and the
  smallest gap between two GETs to one host is at least the delay;
- search: ids, scores and ``total`` of every response equal a
  pure-Python term-frequency scorer built on ``search.ANALYZER_RE``.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from urllib.parse import urlsplit

import regex

from gocrawl_spark import search, synth


def expected_text(doc_id: int, text: str) -> tuple[str, str]:
    if synth.is_article_id(doc_id):
        return "article", synth.expected_article_body(doc_id, text)
    return "page", synth.expected_page_content(doc_id, text)


# ---------------------------------------------------------------- extraction


def extraction_digests(extracted):
    """Spark side of the extraction gate: (doc_id, content_type, sha256
    of the extracted text, count) over every extracted row, so a round
    of 10^4+ pages ships only one row per distinct document."""
    from pyspark.sql import functions as F

    text = F.coalesce(F.col("article.body"), F.col("page.content"))
    return (
        extracted.select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("int").alias("doc_id"),
            "content_type",
            F.sha2(text, 256).alias("digest"),
        )
        .groupBy("doc_id", "content_type", "digest")
        .count()
        .collect()
    )


def flat_digests(flat) -> list[dict]:
    """:func:`extraction_digests` for in-process extraction rows."""
    out = Counter()
    for url, ctype, body, content in zip(flat["url"], flat["content_type"],
                                         flat["a_body"], flat["p_content"]):
        text = body if ctype == "article" else content
        digest = hashlib.sha256(text.encode("utf-8")).hexdigest() if text is not None else None
        out[(int(url.rsplit("/", 1)[1]), ctype, digest)] += 1
    return [{"doc_id": d, "content_type": c, "digest": h, "count": n}
            for (d, c, h), n in out.items()]


def check_extraction(rows, texts: dict[int, str]) -> tuple[list[str], int]:
    """rows from :func:`extraction_digests`; returns (mismatches, pages)."""
    bad, pages = [], 0
    for r in rows:
        pages += r["count"]
        ctype, exp = expected_text(r["doc_id"], texts[r["doc_id"]])
        want = hashlib.sha256(exp.encode("utf-8")).hexdigest()
        if r["content_type"] != ctype or r["digest"] != want:
            bad.append(f"extraction mismatch: doc {r['doc_id']} ({r['content_type']})")
    return bad, pages


# ---------------------------------------------------------------- robots + seen set


def parse_robots(rules: str) -> list[tuple[bool, str]]:
    """(allow, prefix) rules of the ``User-agent: *`` group (the only
    group the synthetic robots files have)."""
    out = []
    for line in rules.splitlines():
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key in ("allow", "disallow") and val:
            out.append((key == "allow", val))
    return out


def robots_allows(rules: list[tuple[bool, str]], path: str) -> bool:
    """RFC 9309: the longest matching rule wins; on a tie, allow."""
    best_len, allow = -1, True
    for is_allow, prefix in rules:
        if path.startswith(prefix):
            n = len(prefix)
            if n > best_len or (n == best_len and is_allow):
                best_len, allow = n, is_allow
    return allow


def expected_seen(seeds: list[str], robots: dict[str, list]) -> dict[str, int]:
    """url → fetched_round for a one-round crawl whose frontier is the
    seed list: every robots-allowed seed, fetched in round 0."""
    out = {}
    for u in seeds:
        p = urlsplit(u)
        if robots_allows(robots.get(p.hostname, []), p.path or "/"):
            out[u] = 0
    return out


def check_seen(got: dict[str, int], want: dict[str, int]) -> list[str]:
    if got == want:
        return []
    extra = sorted(set(got) - set(want))[:3]
    missing = sorted(set(want) - set(got))[:3]
    moved = sorted(u for u in set(got) & set(want) if got[u] != want[u])[:3]
    return [f"seen-set mismatch: extra {extra} missing {missing} wrong round {moved}"]


def check_politeness(log, robots: dict[str, list], delay_ms: int) -> tuple[list[str], float]:
    """log: LoopbackWeb records. Returns (mismatches, min same-host gap
    in ms between consecutive request arrivals)."""
    bad = []
    by_host: dict[str, list[float]] = {}
    for host, path, start, _end, _status, _size in log:
        by_host.setdefault(host, []).append(start)
        if path != "/robots.txt" and not robots_allows(robots.get(host, []), path):
            bad.append(f"robots-disallowed GET reached the server: {host}{path}")
    gaps = [
        (b - a) * 1000.0
        for starts in by_host.values()
        for a, b in zip(sorted(starts), sorted(starts)[1:])
    ]
    min_gap = min(gaps) if gaps else float("inf")
    if min_gap < delay_ms:
        bad.append(f"politeness: two GETs to one host {min_gap:.2f} ms apart (< {delay_ms} ms)")
    return bad, min_gap


# ---------------------------------------------------------------- search


class SearchOracle:
    """Term-frequency scorer over the published tables, tokenized with
    the analyzer pattern the engine uses (``search.ANALYZER_RE``)."""

    def __init__(self, tables: dict[str, list[dict]]):
        self.pat = regex.compile(search.ANALYZER_RE)
        self.docs = {
            name: [
                (r["id"], Counter(self.tokens(r["text"] or "")), r.get("section"))
                for r in rows
            ]
            for name, rows in tables.items()
        }

    def tokens(self, s: str) -> list[str]:
        return self.pat.findall(s.lower())

    def _tf(self, counts: Counter, terms: list[str]) -> int:
        return sum(counts[t] for t in terms)

    @staticmethod
    def _top(scored: list[tuple[str, float]], k: int) -> list[tuple[str, float]]:
        return sorted(scored, key=lambda x: (-x[1], x[0]))[:k]

    def check(self, path: str, body: dict, resp: dict) -> list[str]:
        if path == "/search":
            terms = self.tokens(body["query"])
            scored = [
                (i, float(s))
                for i, c, _ in self.docs[body["index"]]
                if (s := self._tf(c, terms)) > 0
            ]
            want = self._top(scored, 10)
            got = [(r["id"], float(r["score"])) for r in resp["results"]]
            ok = got == want and resp["total"] == len(scored)
            return [] if ok else [f"search mismatch for {body}"]
        b = body["query"]["bool"]
        must = self.tokens(b["must"][0]["match"]["body"])
        should = self.tokens(b["should"][0]["match"]["body"])
        banned = b["must_not"][0]["term"]["section"]
        scored, buckets = [], Counter()
        for i, c, section in self.docs[body["index"]]:
            s1 = self._tf(c, must)
            if s1 > 0 and section != banned:
                scored.append((i, round(float(s1 + self._tf(c, should)), 6)))
                buckets[section] += 1
        want = self._top(scored, body["size"])
        got = [(h["id"], float(h["score"])) for h in resp["hits"]]
        want_aggs = sorted(buckets.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got_aggs = [(a["key"], a["doc_count"]) for a in resp.get("aggregations", [])]
        ok = got == want and resp["total"] == len(scored) and got_aggs == want_aggs
        return [] if ok else [f"search/dsl mismatch for {body}"]
