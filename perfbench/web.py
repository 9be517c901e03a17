"""A seeded synthetic web for the crawl workload.

Every page is a pure function of its canonical URL and the workload
seed, so a fetch needs no stored corpus:

* U pages over H hosts (page t lives on host t mod H) plus one hot
  host that receives about 5% of all links;
* each page carries a title, a meta description, four paragraphs of
  Zipf-skewed words, six outlinks (same-host links relative, the rest
  absolute), an image and a dead fragment link, wrapped in the
  comment / script / style noise the span extractor must drop (the
  style of corpus.html_of_spans_py);
* about 2.5% of fetches fail, hash-derived from (url, round).

The page is rendered twice: once as native Spark expressions (the
fetch path, `html_expr`) and once in pure Python (`html_py`, the
correctness oracle). The two must agree byte for byte; the fetched
docs' spans are then checked against `extract_spans_py(html_py(url))`.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

from searchengine_spark.corpus import robots_state_expr
from searchengine_spark.functions.hashes import hash60, hash60_py
from searchengine_spark.functions.spans import extract_spans_udf

SYLLABLES = (
    "ba", "ce", "di", "fo", "gu", "ha", "ke", "li", "mo", "nu",
    "pa", "re", "si", "to", "vu", "wa", "xe", "yi", "zo", "ru",
)
TLDS = ("com", "org", "net")
VOCAB = 12_000  # words >= 8000 get a fourth syllable (main dictionary)
N_PARAS = 4
PARA_WORDS = 20
N_WORDS = 4 + N_PARAS * PARA_WORDS  # title 2 + meta 2 + paragraphs
N_LINKS = 6
HOT_PER_256 = 13  # 13/256 ~ 5% of links point at the hot host
HOT_PAGES = 100_000
FAIL_MOD = 40  # 1/40 fetches fail


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def word_py(n: int) -> str:
    w = SYLLABLES[n % 20] + SYLLABLES[n // 20 % 20] + SYLLABLES[n // 400 % 20]
    if n >= 8000:
        w += SYLLABLES[n // 8000 % 20]
    return w


def _word_expr(n: Column) -> Column:
    syl = F.array(*[F.lit(s) for s in SYLLABLES])

    def digit(d: int) -> Column:
        return F.element_at(syl, (F.pmod(F.floor(n / F.lit(d)), F.lit(20)) + 1).cast("int"))

    base = F.concat(digit(1), digit(20), digit(400))
    return F.when(n >= 8000, F.concat(base, digit(8000))).otherwise(base)


def _hex(m: Column, start: int, length: int) -> Column:
    return F.conv(F.substring(m, start, length), 16, 10).cast("long")


def _zipf_py(m: str) -> int:
    a, b, c = int(m[0:2], 16), int(m[2:4], 16), int(m[4:6], 16)
    return (a * b * c * VOCAB) >> 24


def _zipf_expr(m: Column) -> Column:
    return F.shiftright(_hex(m, 1, 2) * _hex(m, 3, 2) * _hex(m, 5, 2) * F.lit(VOCAB), 24)


class Web:
    def __init__(self, seed: int, n_pages: int, n_hosts: int):
        self.salt = f"k{seed}"
        self.n_pages = n_pages
        self.n_hosts = n_hosts
        self.hot_host = f"hot-{self.salt}.com"

    # -- URLs ---------------------------------------------------------------

    def host_py(self, h: int) -> str:
        return f"h{h}-{self.salt}.{TLDS[h % 3]}"

    def _host_expr(self, h: Column) -> Column:
        tld = F.element_at(F.array(*[F.lit(t) for t in TLDS]), (F.pmod(h, F.lit(3)) + 1).cast("int"))
        return F.concat(F.lit("h"), h.cast("string"), F.lit(f"-{self.salt}."), tld)

    def seed_urls(self) -> list[str]:
        """One seed page per host: page h lives on host h."""
        return [f"http://{self.host_py(h)}/p/{h}" for h in range(self.n_hosts)]

    # -- page render: pure Python ---------------------------------------------

    def _link_py(self, url: str, host: str, j: int) -> str:
        m = _md5(f"{self.salt}|L|{url}|{j}")
        sel, t = int(m[0:2], 16), int(m[2:10], 16) % self.n_pages
        if sel < HOT_PER_256:
            href = f"http://{self.hot_host}/p/{t % HOT_PAGES}"
        else:
            th = self.host_py(t % self.n_hosts)
            href = f"/p/{t}" if th == host else f"http://{th}/p/{t}"
        anchor = word_py(int(m[10:13], 16))
        return f'<a rel="nofollow" href="{href}">{anchor}</a>'

    def html_py(self, url: str, host: str) -> str:
        words = [word_py(_zipf_py(_md5(f"{self.salt}|w|{url}|{i}"))) for i in range(N_WORDS)]
        links = [self._link_py(url, host, j) for j in range(N_LINKS)]
        img = int(_md5(f"{self.salt}|i|{url}")[0:4], 16)
        parts = [
            f"<html><head><title>{words[0]} {words[1]} page</title>\n",
            f'<meta name="description" content="{words[2]} {words[3]}">\n',
            "<script>var x = '<title>not me</title>';</script>\n",
            "<style>.a{color:red}</style>\n</head><body>\n<!-- nav -->\n",
        ]
        for k in range(N_PARAS):
            para = " ".join(words[4 + PARA_WORDS * k : 4 + PARA_WORDS * (k + 1)])
            parts.append(f'<p class="c{k}">{para}</p>\n{links[k]}\n')
            if k == 0:
                parts.append(f'<img src="/img/{img}.png" width="10">\n')
            if k == 1:
                parts.append("<!-- noise -->\n")
        parts.append(f'{links[4]} {links[5]}\n<a href="#top">top</a>\n</body></html>')
        return "".join(parts)

    def fails_py(self, url: str, round_no: int) -> bool:
        return hash60_py(f"{url}|{round_no}", f"{self.salt}|fail") % FAIL_MOD == 0

    # -- page render: native Spark expressions --------------------------------

    def _link_expr(self, url: Column, host: Column, j: Column) -> Column:
        m = F.md5(F.concat(F.lit(f"{self.salt}|L|"), url, F.lit("|"), j.cast("string")))
        t = F.pmod(_hex(m, 3, 8), F.lit(self.n_pages))
        th = self._host_expr(F.pmod(t, F.lit(self.n_hosts)))
        href = (
            F.when(
                _hex(m, 1, 2) < HOT_PER_256,
                F.concat(
                    F.lit(f"http://{self.hot_host}/p/"),
                    F.pmod(t, F.lit(HOT_PAGES)).cast("string"),
                ),
            )
            .when(th == host, F.concat(F.lit("/p/"), t.cast("string")))
            .otherwise(F.concat(F.lit("http://"), th, F.lit("/p/"), t.cast("string")))
        )
        return F.concat(
            F.lit('<a rel="nofollow" href="'), href, F.lit('">'),
            _word_expr(_hex(m, 11, 3)), F.lit("</a>"),
        )

    def html_expr(self, url: Column, host: Column) -> Column:
        words = F.transform(
            F.sequence(F.lit(0), F.lit(N_WORDS - 1)),
            lambda i: _word_expr(
                _zipf_expr(F.md5(F.concat(F.lit(f"{self.salt}|w|"), url, F.lit("|"), i.cast("string"))))
            ),
        )
        links = F.transform(
            F.sequence(F.lit(0), F.lit(N_LINKS - 1)),
            lambda j: self._link_expr(url, host, j),
        )
        img = _hex(F.md5(F.concat(F.lit(f"{self.salt}|i|"), url)), 1, 4)

        def w(i: int) -> Column:
            return F.element_at(words, i + 1)

        def link(j: int) -> Column:
            return F.element_at(links, j + 1)

        parts = [
            F.lit("<html><head><title>"), w(0), F.lit(" "), w(1), F.lit(" page</title>\n"),
            F.lit('<meta name="description" content="'), w(2), F.lit(" "), w(3), F.lit('">\n'),
            F.lit("<script>var x = '<title>not me</title>';</script>\n"),
            F.lit("<style>.a{color:red}</style>\n</head><body>\n<!-- nav -->\n"),
        ]
        for k in range(N_PARAS):
            para = F.array_join(F.slice(words, 5 + PARA_WORDS * k, PARA_WORDS), " ")
            parts += [F.lit(f'<p class="c{k}">'), para, F.lit("</p>\n"), link(k), F.lit("\n")]
            if k == 0:
                parts += [F.lit('<img src="/img/'), img.cast("string"), F.lit('.png" width="10">\n')]
            if k == 1:
                parts.append(F.lit("<!-- noise -->\n"))
        parts += [link(4), F.lit(" "), link(5), F.lit('\n<a href="#top">top</a>\n</body></html>')]
        return F.concat(*parts)

    def fails_expr(self, url: Column, round_no: int) -> Column:
        return (
            F.pmod(
                hash60(F.concat(url, F.lit(f"|{round_no}")), f"{self.salt}|fail"),
                F.lit(FAIL_MOD),
            )
            == 0
        )


class HtmlWebAdapter:
    """CrawlDriver fetch adapter over `Web`: the page is rendered from
    the scheduled URL by native Spark expressions and parsed with the
    engine's own `extract_spans_udf`, the path real HTTP pages take in
    sources.http_fetch.fetched_docs. Links are raw hrefs (relative
    same-host links, a dead '#top' fragment), so run_round resolves
    them against the page URL. Robots state is the corpus grammar's
    hash-derived expression, so candidates are gated at ingestion."""

    ingest_robots = True
    tag = "perfbench-html"
    emits_raw_hrefs = True

    def __init__(self, web: Web):
        self.web = web

    def fetch(self, scheduled: DataFrame, round_no: int, cfg, cache_handles):
        failed_c = self.web.fails_expr(F.col("url"), round_no)
        ok = scheduled.where(~failed_c).withColumn(
            "spans", extract_spans_udf(self.web.html_expr(F.col("url"), F.col("host")))
        )
        cols = ["url_md5", "url", "host", "shard", "round", "seq_in_round", "spans"]
        return ok.select(*cols), scheduled.where(failed_c)

    def robots_state_expr(self):
        return robots_state_expr

    def host_ip_expr(self):
        return lambda host: F.concat(
            F.lit("10.0."), F.pmod(hash60(host, "ip"), F.lit(256)).cast("string"), F.lit(".1")
        )

    def resolve_hosts(self, new_hosts: DataFrame) -> DataFrame:
        return new_hosts.select(
            "host",
            robots_state_expr(F.col("host")).alias("robots_state"),
            self.host_ip_expr()(F.col("host")).alias("ip"),
            F.lit(0).alias("crawl_delay"),
        )
