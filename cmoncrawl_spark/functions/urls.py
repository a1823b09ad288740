"""URL rules — the engine's hottest scalar path.

Every URL rule reads the URL as ``urllib.parse.urlsplit`` does, the
parser the reference keys its rules on (helpers.py:39-59), through one
regexp family: the netloc (:func:`netloc_col`), the path
(:func:`path_col`) and the politeness host (:func:`host_col`). No URL
fails the job or loses its host or path because ``java.net.URI`` (Spark's
``parse_url``) rejects it.

The canonicalizer is ``unify_url_id``, the reference's URL-seen id
(semantics from the reference's aggregator/utils/helpers.py:39-59,
golden vectors tests/gateway_test.py:111-151). Implemented TWICE:
- :func:`unify_url_id_col` — pure Catalyst column expressions
  (``regexp_*`` only). JVM-side, whole-stage codegen,
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
#: a URL's raw path, as ``urlsplit`` reads it: after an optional scheme
#: and the ``//`` authority, up to ``?`` or ``#``.
_PATH_RE = rf"^(?:{_SCHEME_RE})?(?://[^/?#]*)?([^?#]*)"
#: the hostname, as ``urlsplit`` reads it from the netloc: after the
#: last ``@``; inside the brackets when the rest holds a ``[``, else up
#: to the first ``:``. The prefix is atomic and the host non-empty, so
#: a URL with no hostname does not match.
_HOST_RE = (
    rf"^(?>(?:{_SCHEME_RE})?//(?:[^/?#]*@)?(?:[^\[/?#]*\[)?)"
    r"((?<=\[)[^\]/?#]+|(?<!\[)[^:/?#]+)"
)


def _urlsplit_input(url: Column) -> Column:
    return F.regexp_replace(url, _URLSPLIT_DROP_RE, "")


def netloc_col(url: Column) -> Column:
    """``urlsplit(url).netloc`` — which KEEPS userinfo and port
    (``'user@h:8080'``), as the reference id does; ``''`` with no
    ``//``."""
    return F.regexp_extract(_urlsplit_input(url), _NETLOC_RE, 1)


def path_col(url: Column) -> Column:
    """``urlsplit(url).path`` (see ``_PATH_RE``)."""
    return F.regexp_extract(_urlsplit_input(url), _PATH_RE, 1)


def host_col(url: Column) -> Column:
    """``urlsplit(url).hostname``, the politeness host: userinfo, port
    and IPv6 brackets dropped, lowercased, NULL when there is none. One
    difference: ``urlsplit`` keeps the case after a ``%`` (an IPv6 zone
    id), this lowercases it too.

    The host is the one element of ``regexp_extract_all`` or NULL, so
    the regexps appear once in the expression; a ``CASE`` turning
    ``regexp_extract``'s ``''`` into NULL would hold them twice."""
    hosts = F.regexp_extract_all(_urlsplit_input(url), F.lit(_HOST_RE), 1)
    return F.lower(F.get(hosts, 0))


def unify_url_id_col(url: Column) -> Column:
    """Canonical URL-seen id as a native expression chain (no UDF).

    NOTE: the id keys on the full netloc (reference helpers.py:54-57),
    not the bare host.
    """
    host = netloc_col(url)
    host = F.when(host.startswith("www."), F.substring(host, 5, 2048)).otherwise(
        host
    )
    path = path_col(url)
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
