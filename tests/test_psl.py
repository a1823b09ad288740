"""PSL registered-domain (eTLD+1): golden vectors, Spark/Python
differential, and the frontier-grouping property the PSL exists for
(reference F1 DOMAIN semantics sharpened — athena_query_maker.py:10-33
matches url_host_registered_domain)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cmoncrawl_spark.functions.psl import (
    default_psl_source,
    parse_psl,
    registered_domain_py,
    with_registered_domain,
)

GOLDEN = {
    # uk/au ccTLD second-level registrations (the heuristic-killer)
    "foo.co.uk": "foo.co.uk",
    "a.b.foo.co.uk": "foo.co.uk",
    "www.foo.co.uk": "foo.co.uk",
    "bar.com.au": "bar.com.au",
    "deep.sub.bar.com.au": "bar.com.au",
    "co.uk": None,  # the public suffix itself registers nothing
    "uk": None,
    # plain gTLD
    "example.com": "example.com",
    "www.example.com": "example.com",
    "com": None,
    # unlisted TLD -> implicit '*' rule
    "foo.bar.unknowntld": "bar.unknowntld",
    # wildcard rules: *.kawasaki.jp
    "foo.kawasaki.jp": None,  # matches *.kawasaki.jp -> IS a suffix
    "x.foo.kawasaki.jp": "x.foo.kawasaki.jp",
    "kawasaki.jp": "kawasaki.jp",  # wildcard needs one more label; ps=jp
    # exception rules: !city.kawasaki.jp
    "city.kawasaki.jp": "city.kawasaki.jp",
    "ward.city.kawasaki.jp": "city.kawasaki.jp",
    # wildcard-only ccTLD *.ck with !www.ck
    "shop.example.ck": "shop.example.ck",
    "example.ck": None,
    "www.ck": "www.ck",
    "sub.www.ck": "www.ck",
    # private-section platform suffixes: different owners per subdomain
    "alice.github.io": "alice.github.io",
    "www.alice.github.io": "alice.github.io",
    "github.io": None,
    "mybucket.s3.amazonaws.com": "mybucket.s3.amazonaws.com",
    # canonicalization: case + trailing dot
    "WWW.Foo.CO.UK.": "foo.co.uk",
}


def test_registered_domain_py_golden():
    for host, want in GOLDEN.items():
        got = registered_domain_py(host)
        assert got == want, f"{host}: {got!r} != {want!r}"


def test_with_registered_domain_matches_python_twin(spark):
    hosts = list(GOLDEN) + [
        "x.y.z.w.co.uk",
        "a.gov.uk",
        "site.blogspot.com",
        "n.e.s3.amazonaws.com",
        "single",
        "a.b.c.d.e.example.org",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["registered_domain"]
        for r in with_registered_domain(df).collect()
    }
    for h in hosts:
        assert got[h] == registered_domain_py(h), (
            f"{h}: spark={got[h]!r} python={registered_domain_py(h)!r}"
        )


def test_with_registered_domain_plan_is_broadcast_no_shuffle(spark):
    df = spark.createDataFrame([("foo.co.uk",)], "host string")
    plan = (
        with_registered_domain(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # no shuffle


def test_frontier_round_groups_cctld_subdomains_by_registered_domain(spark):
    """Politeness keyed by registered domain: a.foo.co.uk and
    b.foo.co.uk share foo.co.uk's budget; bar.co.uk is a SEPARATE
    domain (the two-label heuristic would have fused all of co.uk)."""
    from cmoncrawl_spark.operators.frontier import scheduling_round

    # letter-distinct paths: unify_url_id strips digits (reference D1
    # semantics), so /p0../p4 would collapse to ONE canonical id
    urls = [
        (f"https://a.foo.co.uk/p{c}", 0, 1.0) for c in "abcde"
    ] + [
        (f"https://b.foo.co.uk/q{c}", 0, 1.0) for c in "abcde"
    ] + [
        (f"https://bar.co.uk/r{c}", 0, 1.0) for c in "abcde"
    ]
    frontier = spark.createDataFrame(
        urls, "url string, depth int, priority double"
    )
    seen = spark.createDataFrame([("nope",)], "url_id string")
    policies = spark.createDataFrame(
        [("foo.co.uk", 4, False), ("bar.co.uk", 2, False)],
        "host string, budget int, robots_disallow_all boolean",
    )
    out = scheduling_round(
        frontier, seen, policies, domain_politeness=True
    ).select("url", "host", "fetch_rank").collect()
    by_host: dict[str, int] = {}
    for r in out:
        by_host[r["host"]] = max(by_host.get(r["host"], 0), r["fetch_rank"])
    # foo.co.uk: 10 candidates across 2 subdomains capped at budget 4;
    # bar.co.uk: 5 candidates capped at budget 2
    assert by_host == {"foo.co.uk": 4, "bar.co.uk": 2}


def test_parse_psl_shapes():
    _, text = default_psl_source()
    rules = dict(parse_psl(text))
    assert rules["co.uk"] == "normal"
    assert rules["kawasaki.jp"] == "wildcard"
    assert rules["city.kawasaki.jp"] == "exception"
    assert len(rules) > 9000


def test_registered_domain_malformed_hosts_twin_parity(spark):
    """Empty labels and repeated trailing dots: the Spark column and
    the Python twin must agree (ADVICE r3 — 'a..co.uk' used to emit
    '.co.uk' from the column path only)."""
    from cmoncrawl_spark.functions.psl import (
        registered_domain_py,
        with_registered_domain,
    )

    hosts = [
        "a..co.uk",
        "foo.co.uk..",
        "..example.com",
        "example..com.",
        "...",
        "a.b..c.example.org",
    ]
    df = with_registered_domain(
        spark.createDataFrame([(h,) for h in hosts], "host string")
    )
    got = {r["host"]: r["registered_domain"] for r in df.collect()}
    for h in hosts:
        assert got[h] == registered_domain_py(h), h


def test_psl_file_loader_full_list_depths(spark, monkeypatch):
    """VERDICT r3 #5: the one-line deployment swap to another
    publicsuffix.org-format list. $CMONCRAWL_PSL_FILE points at a
    representative slice with 4-, 5- and 6-label rules + the private
    section, and the join ladder sizes itself to the deeper rules;
    every resolution is cross-checked against the Python twin on the
    same rules."""
    import os

    from cmoncrawl_spark.functions.psl import (
        parse_psl,
        registered_domain_py,
        rule_max_labels,
        with_registered_domain,
    )

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "psl_full_slice.dat"
    )
    rules = dict(parse_psl(open(path).read()))
    assert rule_max_labels(rules) == 6  # deeper than the bundled list's 5
    monkeypatch.setenv("CMONCRAWL_PSL_FILE", path)

    hosts = [
        # ccTLD families resolve per the slice
        "shop.co.za",
        "a.b.shop.co.za",
        "tienda.com.mx",
        "x.gob.mx",
        # 4-label private rule: owner is the label BELOW the suffix
        "acme.cust.prod.thingdust.io",
        "deep.acme.cust.prod.thingdust.io",
        # 5-label rule
        "me.s3.dualstack.eu-west-1.amazonaws.com.example",
        # deep wildcard (*.compute... -> 4-label base + 1)
        "vm1.zone.compute.amazonaws.com.example",
        "site.vm1.zone.compute.amazonaws.com.example",
        # exception under wildcard
        "city.kobe.jp",
        "x.city.kobe.jp",
        "a.b.kobe.jp",
        # public suffixes themselves -> NULL
        "co.za",
        "cust.prod.thingdust.io",
    ]
    df = with_registered_domain(
        spark.createDataFrame([(h,) for h in hosts], "host string")
    )
    got = {r["host"]: r["registered_domain"] for r in df.collect()}
    for h in hosts:
        assert got[h] == registered_domain_py(h, rules), (
            f"{h}: spark={got[h]!r} twin={registered_domain_py(h, rules)!r}"
        )
    # spot-pin the semantics, not just twin agreement
    assert got["acme.cust.prod.thingdust.io"] == "acme.cust.prod.thingdust.io"
    assert got["a.b.shop.co.za"] == "shop.co.za"
    assert got["city.kobe.jp"] == "city.kobe.jp"  # exception
    assert got["a.b.kobe.jp"] == "a.b.kobe.jp"  # wildcard *.kobe.jp
    assert got["co.za"] is None


def test_with_registered_domain_preserves_conflicting_column_names(spark):
    """Regression (ADVICE r4): input columns literally named
    rule/nrm/wld/exc must survive untouched — the old
    withColumnsRenamed after each ladder join hijacked them into
    internal _psl_* names and dropped them."""
    df = spark.createDataFrame(
        [("foo.co.uk", "my-rule", 7, "w", 3.5)],
        "host string, rule string, nrm int, wld string, exc double",
    )
    out = with_registered_domain(df)
    assert set(out.columns) == {
        "host", "rule", "nrm", "wld", "exc", "registered_domain"
    }
    row = out.collect()[0]
    assert row["rule"] == "my-rule"
    assert row["nrm"] == 7
    assert row["wld"] == "w"
    assert row["exc"] == 3.5
    assert row["registered_domain"] == "foo.co.uk"


def test_with_registered_domain_depth_filtered_broadcasts(spark):
    """The ladder plans one BROADCAST join per rung over a
    DEPTH-FILTERED rule relation (a k-label suffix can only match a
    k-label rule), and NO shuffle exchange anywhere: every Exchange in
    the executed plan must be a broadcast. Round 4 shared one
    full-table BroadcastExchange across rungs; round 5 deliberately
    splits it per depth (measured +2.6 s/19.2M-URL round for the
    shared ~9.5k-row map vs per-depth maps — PLANS §15)."""
    df = spark.createDataFrame([("a.b.foo.co.uk",)], "host string")
    out = with_registered_domain(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    from cmoncrawl_spark.functions.psl import (
        _kind_map,
        default_psl_rules,
        rule_max_labels,
    )

    kinds = _kind_map(default_psl_rules())
    ml = rule_max_labels(kinds)
    depths = {r.count(".") + 1 for r in kinds}
    expect_joins = len([k for k in range(1, ml + 1) if k in depths])
    assert final.count("BroadcastHashJoin") == expect_joins, final
    # shuffle-free: exchanges are broadcast-only (ShuffleExchange
    # would appear as 'Exchange hashpartitioning'/'rangepartitioning')
    assert "hashpartitioning" not in final, final
    assert "rangepartitioning" not in final, final


def test_default_source_is_bundled_full_list():
    """The engine defaults to the bundled full publicsuffix.org list
    (~9.5k rules, 5-label max depth); $CMONCRAWL_PSL_FILE overrides."""
    from cmoncrawl_spark.functions.psl import (
        _kind_map,
        default_psl_rules,
        default_psl_source,
        rule_max_labels,
    )

    path, text = default_psl_source()
    assert path is not None and path.endswith("public_suffix_list.dat")
    rules = default_psl_rules()
    assert len(rules) > 9000
    assert rule_max_labels(_kind_map(rules)) == 5
    # full-list-only cases the curated subset could not resolve
    assert registered_domain_py("sub.x.co.za") == "x.co.za"
    assert registered_domain_py("y.com.mx") == "y.com.mx"
    assert registered_domain_py("co.za") is None
    assert registered_domain_py("a.b.cust.dev.thingdust.io") == (
        "b.cust.dev.thingdust.io"
    )


def test_oracle_psl_parse_matches_engine_parse():
    """The DuckDB oracle re-parses the SAME bundled file with SQL
    string ops (oracles._psl_rules_cte). Its (rule, kind) set must be
    byte-identical to the engine's parse_psl — a drift here would make
    every PSL oracle silently judge against different rules."""
    import duckdb

    from cmoncrawl_spark.functions.psl import default_psl_source, parse_psl
    from cmoncrawl_spark.oracles import _psl_rules_cte

    path, text = default_psl_source()
    assert path is not None  # bundled file present
    body, probe_hi = _psl_rules_cte()
    got = set(map(tuple, duckdb.sql(body).fetchall()))
    want = set(parse_psl(text))
    assert got == want
    from cmoncrawl_spark.functions.psl import _kind_map, rule_max_labels

    assert probe_hi == rule_max_labels(_kind_map(want)) + 1


def test_psl_source_fingerprint_tracks_source(monkeypatch, tmp_path):
    """Cache keys derived from PSL-dependent computation fold in
    psl_source_fingerprint(); it must change when the rule source
    does (round-5 review: prepare_domain_policies' on-disk cache was
    keyed only on the input dir, so a rule-set swap silently served
    domain policies computed under the OLD rules)."""
    import hashlib

    from cmoncrawl_spark.functions.psl import psl_source_fingerprint

    fp_bundled = psl_source_fingerprint()
    f = tmp_path / "mini_psl.dat"
    f.write_text("com\nco.uk\n")
    monkeypatch.setenv("CMONCRAWL_PSL_FILE", str(f))
    fp_file = psl_source_fingerprint()
    assert fp_file != fp_bundled
    assert fp_file == hashlib.sha256(b"com\nco.uk\n").hexdigest()
    # and the domain-policy cache key is derived from it
    k1 = hashlib.md5(f"dpol|/x|0|{fp_bundled}".encode()).hexdigest()
    k2 = hashlib.md5(f"dpol|/x|0|{fp_file}".encode()).hexdigest()
    assert k1 != k2


def test_psl_in_place_rewrite_changes_fingerprint_and_rules(
    monkeypatch, tmp_path
):
    """The fingerprint hashes the rule text that is parsed, not the
    file's path and mtime: a rewrite in place that keeps the mtime
    must still change both the fingerprint and the parsed rules."""
    import os

    from cmoncrawl_spark.functions.psl import (
        default_psl_rules,
        psl_source_fingerprint,
    )

    f = tmp_path / "psl.dat"
    f.write_text("com\nco.uk\n")
    monkeypatch.setenv("CMONCRAWL_PSL_FILE", str(f))
    fp1 = psl_source_fingerprint()
    assert default_psl_rules() == [("com", "normal"), ("co.uk", "normal")]
    st = os.stat(f)
    f.write_text("com\nco.za\n")
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(f).st_mtime_ns == st.st_mtime_ns
    assert psl_source_fingerprint() != fp1
    assert default_psl_rules() == [("com", "normal"), ("co.za", "normal")]


def test_package_imported_from_zip_uses_bundled_list(monkeypatch, tmp_path):
    """A ``spark-submit --py-files`` zip of the package (.py files plus
    data/*.dat) loads the bundled full list, not some smaller set:
    same rules, same fingerprint, same registered domains as the
    on-disk package, and the oracle inlines the rules as VALUES."""
    import json
    import os
    import subprocess
    import sys
    import zipfile

    import cmoncrawl_spark
    from cmoncrawl_spark.functions.psl import psl_source_fingerprint

    monkeypatch.delenv("CMONCRAWL_PSL_FILE", raising=False)
    pkg = os.path.dirname(os.path.abspath(cmoncrawl_spark.__file__))
    zpath = tmp_path / "cmoncrawl_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for name in files:
                if name.endswith((".py", ".dat")):
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    script = f"""
import json, sys
sys.path.insert(0, {str(zpath)!r})
import cmoncrawl_spark
assert cmoncrawl_spark.__file__.startswith({str(zpath)!r}), cmoncrawl_spark.__file__
from cmoncrawl_spark.functions.psl import (
    default_psl_rules, psl_source_fingerprint, registered_domain_py)
from cmoncrawl_spark.oracles import _psl_rules_cte
print(json.dumps({{
    "n_rules": len(default_psl_rules()),
    "fingerprint": psl_source_fingerprint(),
    "shop": registered_domain_py("a.shop.myshopify.com"),
    "oracle_values": _psl_rules_cte()[0].lstrip().startswith("VALUES"),
}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, cwd=tmp_path, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["n_rules"] > 9000
    assert got["fingerprint"] == psl_source_fingerprint()
    assert got["shop"] == "shop.myshopify.com"
    assert got["oracle_values"]


def test_missing_bundled_list_raises(monkeypatch, tmp_path):
    """No rule file means no registered domains: the loader raises
    instead of falling back to a smaller rule set."""
    import pytest

    from cmoncrawl_spark.functions import psl

    monkeypatch.delenv("CMONCRAWL_PSL_FILE", raising=False)
    monkeypatch.setattr(psl.resources, "files", lambda _pkg: tmp_path)
    with pytest.raises(FileNotFoundError, match="public suffix list"):
        psl.default_psl_rules()


def test_oracle_psl_cte_hostile_path_falls_back_to_values(
    monkeypatch, tmp_path
):
    """$CMONCRAWL_PSL_FILE is user-controlled and DuckDB's read_text
    treats the spliced path as BOTH a SQL string and a glob pattern —
    a quote would break the statement, * ? [ ] would silently read
    the wrong file(s). Hostile paths must take the VALUES route and
    still yield the identical rule set (round-5 review)."""
    import duckdb

    from cmoncrawl_spark import oracles
    from cmoncrawl_spark.functions.psl import parse_psl

    d = tmp_path / "o'brien [data]"
    d.mkdir()
    f = d / "psl.dat"
    text = "// comment\ncom\n*.ck\n!www.ck\nco.uk\n"
    f.write_text(text)
    monkeypatch.setenv("CMONCRAWL_PSL_FILE", str(f))
    body, probe_hi = oracles._psl_rules_cte()
    assert body.lstrip().startswith("VALUES"), body[:80]
    got = set(
        duckdb.sql(
            f"WITH psl_rules(rule, kind) AS ({body}) "
            "SELECT rule, kind FROM psl_rules"
        ).fetchall()
    )
    assert got == set(parse_psl(text))
    assert probe_hi >= 3  # deepest rule has 2 labels -> probe 1..2


def test_oracle_psl_cte_memoized_per_source(monkeypatch, tmp_path):
    """oracles() builds the CTE twice per call and harnesses rebuild
    oracles() per trial — the ~14k-line list must parse once per
    source, and the memo must NOT serve a stale body after the
    source changes."""
    from cmoncrawl_spark import oracles

    b1, h1 = oracles._psl_rules_cte()
    assert (b1, h1) == oracles._psl_rules_cte()  # cache hit, same obj
    f = tmp_path / "two_rules.dat"
    f.write_text("com\nnet\n")
    monkeypatch.setenv("CMONCRAWL_PSL_FILE", str(f))
    b2, h2 = oracles._psl_rules_cte()
    assert b2 != b1  # new source -> new body, not the stale memo
    assert h2 == 2  # 1-label rules -> probe bound 2
