"""Canonicalization tests.

Golden vectors are the 17 url→id pairs from the reference's own test
suite (/root/reference/tests/gateway_test.py:111-151) — copied as DATA
(test vectors), not code.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from cmoncrawl_spark.functions.urls import (
    host_col,
    path_col,
    unify_url_id_col,
    unify_url_id_py,
)

GOLDEN = [
    (
        "https://www.idnes.cz/ekonomika/domaci/maso-polsko-drubezi-zavadne-salmonela.A190301_145636_ekonomika_svob",
        "idnes.cz/ekonomika/domaci/maso-polsko-drubezi-zavadne-salmonela",
    ),
    (
        "https://www.irozhlas.cz/ekonomika/ministerstvo-financi-oznami-lonsky-deficit-statniho-rozpoctu-_201201030127_mdvorakova",
        "irozhlas.cz/ekonomika/ministerstvo-financi-oznami-lonsky-deficit-statniho-rozpoctu",
    ),
    (
        "http://zpravy.idnes.cz/miliony-za-skodu-plzen-sly-tajemne-firme-do-karibiku-f9u-/domaci.aspx?c=A120131_221541_domaci_brm",
        "zpravy.idnes.cz/miliony-za-skodu-plzen-sly-tajemne-firme-do-karibiku-f9u-/domaci",
    ),
    (
        "http://zpravy.aktualne.cz/domaci/faltynek-necekane-prijel-za-valkovou-blizi-se-jeji-konec/r~ed7fae16abe111e4ba57002590604f2e/",
        "zpravy.aktualne.cz/domaci/faltynek-necekane-prijel-za-valkovou-blizi-se-jeji-konec/r",
    ),
    (
        "https://video.aktualne.cz/dvtv/dvtv-zive-babis-je-pod-obrovskym-tlakem-protoze-nejsme-best/r~6c744d0c803f11eb9f15ac1f6b220ee8/",
        "video.aktualne.cz/dvtv/dvtv-zive-babis-je-pod-obrovskym-tlakem-protoze-nejsme-best/r",
    ),
    (
        "https://zpravy.aktualne.cz/snih-komplikuje-dopravu-v-praze-problemy-hlasi-i-severni-a-z/r~725593e0279311e991e8ac1f6b220ee8/",
        "zpravy.aktualne.cz/snih-komplikuje-dopravu-v-praze-problemy-hlasi-i-severni-a-z/r",
    ),
    (
        "https://www.seznamzpravy.cz/clanek/domaci-zivot-v-cesku-manazer-obvineny-s-hlubuckem-za-korupci-ma-dostat-odmenu-az-13-milionu-209379",
        "seznamzpravy.cz/clanek/domaci-zivot-v-cesku-manazer-obvineny-s-hlubuckem-za-korupci-ma-dostat-odmenu-az-13-milionu",
    ),
    (
        "https://www.denik.cz/staty-mimo-eu/rusko-ukrajina-valka-boje-20220306.html",
        "denik.cz/staty-mimo-eu/rusko-ukrajina-valka-boje",
    ),
    (
        "http://www.denik.cz/z_domova/zdenek-skromach-chci-na-hrad-ale-proti-zemanovi-nepujdu-20150204.html",
        "denik.cz/z_domova/zdenek-skromach-chci-na-hrad-ale-proti-zemanovi-nepujdu",
    ),
    (
        "https://www.denik.cz/ekonomika/skoda-auto-odbory-odmitly-navrh-firmy-20180209.html",
        "denik.cz/ekonomika/skoda-auto-odbory-odmitly-navrh-firmy",
    ),
    (
        "http://data.blog.ihned.cz/c1-59259950-data-retention-zivot-v-zaznamech-mobilniho-operatora",
        "data.blog.ihned.cz/c1-59259950-data-retention-zivot-v-zaznamech-mobilniho-operatora",
    ),
    (
        "http://archiv.ihned.cz/c1-65144800-south-stream-prijde-gazprom-draho-firma-pozaduje-za-zruseny-projekty-stovky-milionu-euro",
        "archiv.ihned.cz/c1-65144800-south-stream-prijde-gazprom-draho-firma-pozaduje-za-zruseny-projekty-stovky-milionu-euro",
    ),
    (
        "http://www.novinky.cz/domaci/290965-nove-zvoleneho-prezidenta-si-hned-prevezme-ochranka.html",
        "novinky.cz/domaci/290965-nove-zvoleneho-prezidenta-si-hned-prevezme-ochranka",
    ),
    (
        "https://www.novinky.cz/zahranicni/svet/clanek/nas-vztah-s-ruskem-zapad-spatne-pochopil-rika-cina-40403627",
        "novinky.cz/zahranicni/svet/clanek/nas-vztah-s-ruskem-zapad-spatne-pochopil-rika-cina",
    ),
    ("https://www.novinky.cz", "novinky.cz"),
    (
        "https://pocasi.idnes.cz/?t=img_v&regionId=6&d=03.12.2019%2005:00&strana=3",
        "pocasi.idnes.cz",
    ),
    ("https://idnes.cz/ahoj@1", "idnes.cz/ahoj"),
]


@pytest.mark.parametrize("url,expected", GOLDEN)
def test_unify_py_golden(url, expected):
    assert unify_url_id_py(url) == expected


def test_unify_col_golden(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(u,) for u, _ in GOLDEN], ["url"])
    got = (
        df.withColumn("id", unify_url_id_col(F.col("url")))
        .select("url", "id")
        .collect()
    )
    by_url = {r["url"]: r["id"] for r in got}
    for url, expected in GOLDEN:
        assert by_url[url] == expected, url


@settings(max_examples=50, deadline=None)
@given(
    st.builds(
        lambda scheme, www, host, path, q: f"{scheme}://{www}{host}{path}{q}",
        st.sampled_from(["http", "https"]),
        st.sampled_from(["", "www."]),
        st.from_regex(r"[a-z][a-z0-9]{0,10}(\.[a-z]{2,3}){1,2}", fullmatch=True),
        st.from_regex(r"(/[a-zA-Z0-9_\-\.]{0,12}){0,4}", fullmatch=True),
        st.sampled_from(["", "?a=1", "?x=%20y&b=2"]),
    )
)
def test_unify_py_total(url):
    # Never raises; never contains scheme or www. prefix.
    out = unify_url_id_py(url)
    assert "://" not in out
    assert not out.startswith("www.")


def test_unify_col_matches_py_on_synthetic(spark, sf_dir):
    """Differential: Catalyst expression chain == Python twin on the
    synthesized URL population (and == component-derived expectation)."""
    from pyspark.sql import functions as F

    from cmoncrawl_spark.datagen import register_crawl_views

    register_crawl_views(spark, sf_dir)
    rows = (
        spark.table("pages")
        .withColumn("id_col", unify_url_id_col(F.col("url")))
        .select("url", "id_col", "canonical_expected")
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert r["id_col"] == r["canonical_expected"], r["url"]
        assert unify_url_id_py(r["url"]) == r["canonical_expected"], r["url"]


def test_unify_col_matches_py_at_netloc_boundary(spark):
    """Ports/userinfo: the reference id keys on the FULL netloc
    (helpers.py:54-57) — the Catalyst chain must agree with the Python
    twin (and thus the reference) on these previously-untested inputs."""
    from pyspark.sql import functions as F

    urls = [
        "http://host.com:8080/path-a",
        "https://user@host.com/path-a",
        "https://u:pw@www.host.com:443/sec/story-x",
        "http://www.host.com:80/",
        "http://host.com:80x/oops",   # malformed port: netloc is raw text
        "https://host.com/@handle/post-b",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {
        r["url"]: r["id"]
        for r in df.withColumn("id", unify_url_id_col(F.col("url"))).collect()
    }
    for u in urls:
        assert got[u] == unify_url_id_py(u), u


def _col_ids(spark, urls):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {
        r["url"]: r["id"]
        for r in df.select("url", unify_url_id_col(F.col("url")).alias("id")).collect()
    }


def test_unify_col_keeps_path_of_uri_rejected_url(spark):
    """A URL ``java.net.URI`` rejects keeps its path: its id is not the
    netloc, which is the id of the host's root page."""
    urls = [
        "http://h.com/a b",
        "http://h.com/a%zz/story-x",
        "https://h.com/a|b/c",
        "http://h.com/",
    ]
    got = _col_ids(spark, urls)
    assert got["http://h.com/a b"] == "h.com/a"
    assert got["http://h.com/a b"] != got["http://h.com/"]
    for u in urls:
        assert got[u] == unify_url_id_py(u), u


def test_unify_col_reads_netloc_of_scheme_relative_url(spark):
    """``//host/path`` has a netloc, as in ``urlsplit``: twins on two
    hosts get two ids."""
    urls = ["//news.site.com/a", "//a.com/x", "//b.com/x", "http://a.com/x"]
    got = _col_ids(spark, urls)
    assert got["//news.site.com/a"] == "news.site.com/a"
    assert got["//a.com/x"] == "a.com/x" == got["http://a.com/x"]
    assert got["//b.com/x"] == "b.com/x"
    for u in urls:
        assert got[u] == unify_url_id_py(u), u


def _splittable(url: str) -> bool:
    from urllib.parse import urlsplit

    try:
        urlsplit(url)
    except ValueError:  # unbalanced or invalid [IPv6] brackets
        return False
    return True


_HOST = st.one_of(
    st.from_regex(
        r"(www\.|WWW\.)?[a-zA-Z][a-zA-Z0-9\-]{0,6}(\.[a-zA-Z]{2,3}){0,2}",
        fullmatch=True,
    ),
    # non-ASCII letters whose lowercase differs in length or context
    st.from_regex(r"[a-zA-ZÉéÄßẞİΣσΌǅ]{1,6}(\.[a-zA-ZΣΩ]{2,3}){0,2}", fullmatch=True),
    st.sampled_from(
        [
            "[::1]",
            "[2001:DB8::7]",
            "[v1.AbC]",
            "127.0.0.1",
            "news",
        ]
    ),
)
_SEGMENT = st.from_regex(r"[a-zA-Z0-9_.~|\- %]{0,8}", fullmatch=True) | st.sampled_from(
    ["a.html", "2024", "%zz", "%4", "x y", "@h", "p.png"]
)
_URL = st.builds(
    lambda lead, scheme, user, host, port, segs, query, frag: (
        f"{lead}{scheme}{user}{host}{port}{''.join('/' + s for s in segs)}"
        f"{query}{frag}"
    ),
    st.sampled_from(["", " ", "\x01 "]),
    st.sampled_from(
        ["http://", "https://", "HTTP://", "//", "", "ftp://", "mailto:", "news:", "a+b.c-d:"]
    ),
    st.sampled_from(["", "user@", "u:pw@", "a%20b@", "news@"]),
    _HOST,
    st.sampled_from(["", ":80", ":8080", ":x"]),
    st.lists(_SEGMENT, max_size=4),
    st.sampled_from(["", "?a=1", "?q=a b", "?x=%zz/y", "?"]),
    st.sampled_from(["", "#f", "#a/b?c", "#"]),
)


@st.composite
def _url_batches(draw):
    """A batch of generated URLs, some with a tab, CR or LF inside."""
    urls = []
    for url in draw(st.lists(_URL, min_size=1, max_size=40)):
        at = draw(st.integers(0, len(url)))
        ws = draw(st.sampled_from(["", "", "\t", "\n", "\r\n"]))
        urls.append(url[:at] + ws + url[at:])
    return [u for u in urls if _splittable(u)]


@settings(max_examples=12, deadline=None)
@given(_url_batches())
def test_generated_urls_match_urlsplit(spark, urls):
    """Generated differential, one Spark job per batch: the Catalyst id
    equals the Python twin's, ``host_col`` is ``urlsplit(url).hostname``,
    ``path_col`` is ``urlsplit(url).path``, and F10 keeps a URL exactly
    when the reference's ``urlsplit(url).netloc.split(".")[0]`` is
    allowed."""
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    from cmoncrawl_spark.extraction.extractor import domain_prefix_allowed

    parts = {u: urlsplit(u) for u in urls}
    first = {u: parts[u].netloc.split(".")[0] for u in urls}
    allowed = sorted({first[u] for u in urls[::2]})
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    url = F.col("url")
    rows = df.select(
        "url",
        unify_url_id_col(url).alias("id"),
        host_col(url).alias("host"),
        path_col(url).alias("path"),
        domain_prefix_allowed(url, allowed).alias("kept"),
    ).collect()
    for r in rows:
        u = r["url"]
        assert r["id"] == unify_url_id_py(u), repr(u)
        assert r["host"] == parts[u].hostname, repr(u)
        assert r["path"] == parts[u].path, repr(u)
        assert r["kept"] == (first[u] in allowed), repr(u)
