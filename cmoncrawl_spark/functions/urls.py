"""URL canonicalization — the engine's hottest scalar path.

The canonicalizer is ``unify_url_id``, the reference's URL-seen id
(semantics from the reference's aggregator/utils/helpers.py:39-59,
golden vectors tests/gateway_test.py:111-151). Implemented TWICE:
- :func:`unify_url_id_col` — pure Catalyst column expressions
  (``regexp_*`` only, netloc and path read as ``urlsplit`` reads
  them, so a URL ``java.net.URI`` rejects neither fails the job nor
  loses its path). JVM-side, whole-stage codegen,
  zero Python in the hot path — this is what frontier rounds use at
  100 TB scale.
- :func:`unify_url_id_py` — plain-Python twin used by tests (golden
  vectors + hypothesis differential vs the column version) and by
  the single-threaded frontier simulator oracle (``tests/simulator.py``).

Reference semantics notes (pinned by the golden vectors):
- extension strip removes EVERY occurrence of .html/.jpg/.png/.zip;
- the reference's "collapse slashes" regex is ``re.sub('/', '/')`` — a
  literal no-op we intentionally do not reproduce as work;
- path core = FIRST match of ``(/[a-zA-Z0-9_-]*)*(/[a-zA-Z0-9-]*)``;
  no match => empty path;
- trailing ``[/\\-0-9]+`` stripped; leading ``www.`` stripped from the
  netloc.
"""

from __future__ import annotations

from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

_EXT_RE = r"\.html|\.jpg|\.png|\.zip"
_PATH_CORE_RE = r"(/[a-zA-Z0-9_\-]*)*(/[a-zA-Z0-9\-]*)"
_TRAILING_RE = r"[/\-0-9]+$"
#: what ``urlsplit`` removes before it splits: leading C0 controls and
#: spaces, and every tab, CR and LF.
_URLSPLIT_DROP_RE = r"^[\x00-\x20]+|[\t\r\n]"
_SCHEME_RE = r"[A-Za-z][A-Za-z0-9+.\-]*:"
#: the netloc, as ``urlsplit`` reads it: after an optional scheme,
#: whenever ``//`` follows, up to ``/``, ``?`` or ``#``.
_NETLOC_RE = rf"^(?:{_SCHEME_RE})?//([^/?#]*)"
#: a URL's raw path: after an optional scheme and the ``//`` authority,
#: up to ``?`` or ``#``. It is ``urlsplit``'s path, and Spark's
#: ``parse_url`` PATH on 21 hierarchical URL shapes checked in Spark 4.1
#: (userinfo, port, IPv6, ``file:///``, scheme-relative, query without
#: path, fragments, scheme-less); a URL ``parse_url`` rejects (a space,
#: say) keeps the text after its netloc.
_PATH_RE = rf"^(?:{_SCHEME_RE})?(?://[^/?#]*)?([^?#]*)"


def _host_col(url: Column) -> Column:
    return F.try_parse_url(url, F.lit("HOST"))


def _urlsplit_input(url: Column) -> Column:
    return F.regexp_replace(url, _URLSPLIT_DROP_RE, "")


def _netloc_col(url: Column) -> Column:
    # The reference id keys on urlparse(url).netloc — which KEEPS
    # userinfo and port ('user@h:8080'), unlike parse_url HOST. One
    # regexp reproduces netloc exactly, scheme-relative URLs included
    # (and '' with no '//', same as urlsplit).
    return F.regexp_extract(_urlsplit_input(url), _NETLOC_RE, 1)


def path_col(url: Column) -> Column:
    """The raw path of ``url`` (see ``_PATH_RE``), from one regexp: no
    URL fails the job, unlike ``parse_url`` under ANSI mode."""
    return F.regexp_extract(url, _PATH_RE, 1)


def unify_url_id_col(url: Column) -> Column:
    """Canonical URL-seen id as a native expression chain (no UDF).

    NOTE: the id keys on the full netloc (reference helpers.py:54-57),
    not the bare host.
    """
    host = _netloc_col(url)
    host = F.when(host.startswith("www."), F.substring(host, 5, 2048)).otherwise(
        host
    )
    path = path_col(_urlsplit_input(url))
    path = F.regexp_replace(path, _EXT_RE, "")
    path = F.regexp_extract(path, _PATH_CORE_RE, 0)
    path = F.regexp_replace(path, _TRAILING_RE, "")
    return F.concat(F.coalesce(host, F.lit("")), path)


def unify_url_id_py(url: str) -> str:
    """Plain-Python twin of :func:`unify_url_id_col` (test oracle)."""
    import re

    parts = urlsplit(url)
    path = re.sub(_EXT_RE, "", parts.path)
    m = re.search(_PATH_CORE_RE, path)
    path = m.group(0) if m else ""
    path = re.sub(_TRAILING_RE, "", path)
    netloc = parts.netloc
    if netloc.startswith("www."):
        netloc = netloc[4:]
    return f"{netloc}{path}"


def host_of(url: Column) -> Column:
    """url_host_name (netloc incl. any www.) as native expression."""
    return _host_col(url)
