"""Extractor plugin protocol compiled to vectorized Arrow stages.

The reference's plugin contract (SURVEY §2 U1/U2): a module defines an
``extractor`` object with ``extract(response, metadata) -> dict|None``;
``BaseExtractor`` subclasses implement ``extract_soup`` plus optional
``filter_raw``/``filter_soup`` (/root/reference/cmoncrawl/processor/
pipeline/extractor.py:18-91, router import protocol router.py:51-89).

Spark-first redesign:
- plugins DECLARE their output schema up front (SURVEY §7 R3 — Spark
  needs schemas before execution; the one deliberate narrowing of the
  reference's dynamism);
- an extractor compiles to ONE ``mapInArrow`` stage: encoding cascade
  + HTML analysis + filters + field extraction fused, each page
  tokenized once (the reference's cheap-before-expensive rule, §4). An
  extractor that selects or serializes nodes gets the tree of
  ``html.parse``; one that reads only text (``PageTextExtractor``)
  gets ``html.page_text`` and no tree;
- raw-level filters should be expressed as native Column predicates
  *before* this stage (F7) — Catalyst can't see inside the UDF.

No per-row Spark dispatch: rows travel as Arrow batches; the Python
loop is per-batch, exactly like the reference's per-record loop but
amortized over vectorized I/O. Pass-through columns stay Arrow arrays;
only the columns the loop reads become Python lists.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from pyspark.sql import Column
from pyspark.sql import functions as F

from cmoncrawl_spark.extraction import html as H
from cmoncrawl_spark.extraction.encoding import decode_cascade
from cmoncrawl_spark.functions.urls import netloc_col


def check_required(
    required_fields: dict[str, bool], non_empty: bool = False
) -> Callable[[dict], bool]:
    """F11 — validity filter over an extracted dict (reference
    processor/extraction/utils.py:223-272, wired as is_valid_extraction
    at pipeline/extractor.py:273-277): every key must be present; keys
    flagged True must be non-None, and with ``non_empty`` also not ''
    or a zero-length sized value. Logging dropped; semantics kept."""

    def inner(extracted: dict) -> bool:
        for key, must_have_value in required_fields.items():
            if key not in extracted:
                return False
            val = extracted[key]
            if must_have_value:
                if val is None:
                    return False
                if non_empty:
                    if isinstance(val, str) and val == "":
                        return False
                    if hasattr(val, "__len__") and len(val) == 0:
                        return False
        return True

    return inner


def domain_prefix_allowed(url_col: Column, prefixes: list[str]) -> Column:
    """F10 — allowed_domain_prefixes (reference pipeline/extractor.py:
    313-318): the raw netloc's FIRST dot-label must be in the
    allow-list, userinfo and all (``urlsplit(url).netloc.split(".")[0]``).
    Native expression so Catalyst applies it before any Arrow batch;
    no URL can fail it."""
    first = F.split(netloc_col(url_col), r"\.").getItem(0)
    return first.isin([p for p in prefixes])


@dataclass
class PageMeta:
    """Per-record context handed to plugin callables (the engine's
    PipeMetadata analog — reference common/types.py:42-81)."""

    url: str | None = None
    record_encoding: str | None = None
    content_type: str | None = None
    encoding: str = "latin-1"


class SparkExtractor:
    """Base extractor: subclass and override ``extract_dom`` (the
    ``extract_soup`` analog) and optionally ``filter_raw`` /
    ``filter_dom``; declare ``schema`` (DDL string or StructType).

    ``extract_text`` is the hook between the decoded page and the tree:
    by default it parses and calls ``filter_dom`` then ``extract_dom``.
    An extractor that reads no DOM overrides it instead. So
    ``PageTextExtractor``, which does, never calls ``filter_dom`` or
    ``extract_dom``: its subclasses override ``extract_text``."""

    #: output schema, e.g. "title string, body_text string"
    schema: str | StructType = "title string"
    forced_encoding: str | None = None
    raise_on_encoding: bool = False

    def filter_raw(self, text: str, meta: PageMeta) -> bool:
        return True

    def filter_dom(self, dom: H.Node, meta: PageMeta) -> bool:
        return True

    def native_prefilter(self, url_col: Column) -> Column | None:
        """Optional Column predicate Catalyst applies BEFORE the Arrow
        stage (F7/F10 doctrine: raw filters stay outside the UDF)."""
        return None

    def extract_dom(self, dom: H.Node, meta: PageMeta) -> dict | None:
        raise NotImplementedError

    # -- engine plumbing ----------------------------------------------------

    def extract_one(self, raw: bytes, meta: PageMeta) -> dict | None:
        text, enc = decode_cascade(
            raw,
            forced_encoding=self.forced_encoding,
            record_encoding=meta.record_encoding,
            content_type=meta.content_type,
            raise_on_encoding=self.raise_on_encoding,
        )
        meta.encoding = enc
        if self.filter_raw(text, meta) is False:
            return None
        return self.extract_text(text, meta)

    def extract_text(self, text: str, meta: PageMeta) -> dict | None:
        """The decoded page -> tree -> ``filter_dom`` -> ``extract_dom``.
        An extractor that reads no DOM overrides this."""
        dom = H.parse(text)
        if self.filter_dom(dom, meta) is False:
            return None
        return self.extract_dom(dom, meta)


class TitleTagExtractor(SparkExtractor):
    """The reference test-fixture extractor: the RAW title tag (outer
    HTML), which is what the reference pipeline emits — its extractor
    returns the bs4 Tag ({'title': soup.title}) and StreamerFileJSON
    serializes it via str(), producing
    '<title ...>...</title>' (end_to_end_test.py:65-72,93-99)."""

    schema = "title string"

    def extract_dom(self, dom: H.Node, meta: PageMeta) -> dict | None:
        t = H._first(dom, "title")
        return {"title": H.outer_html(t, dom) if t is not None else None}


class PageTextExtractor(SparkExtractor):
    """title + body text + winning encoding — the engine's canonical
    html->text stage (input_hint's byte-identical text invariant). It
    reads both from :func:`html.page_text`: no tree is built, so there
    is no ``filter_dom`` step."""

    schema = "title string, body_text string, encoding string"

    def extract_text(self, text: str, meta: PageMeta) -> dict | None:
        title, body = H.page_text(text)
        return {"title": title, "body_text": body, "encoding": meta.encoding}


@dataclass
class CssField:
    """Declarative field spec for ConfigExtractor (U2 analog).

    scope: optional selector resolved FIRST (first hit becomes the
    search root) — the reference's head/article scoping
    (extractor.py:326-343 selects within soup.select_one('head') and
    within article_css_selector). transform: applied to the extracted
    value, None-propagating (utils.py:120-167 chain semantics)."""

    selector: str
    attr: str | None = None  # None -> text content
    scope: str | None = None  # e.g. "head", or an article selector
    transform: Callable[[Any], Any] | None = None


class ConfigExtractor(SparkExtractor):
    """PageExtractor analog: CSS dicts + must(_not)_exist filters
    (reference extractor.py:208-349, filters.py:6-37)."""

    def __init__(
        self,
        fields: dict[str, CssField],
        must_exist: list[str] | None = None,
        must_not_exist: list[str] | None = None,
        required: dict[str, bool] | None = None,
        non_empty: bool = False,
        allowed_domain_prefixes: list[str] | None = None,
    ) -> None:
        self.fields = fields
        self.must_exist = must_exist or []
        self.must_not_exist = must_not_exist or []
        self.schema = ", ".join(f"{k} string" for k in fields)
        self.allowed_domain_prefixes = allowed_domain_prefixes
        # F11: the validity hook is compiled from `required`.
        self.is_valid_extraction = (
            check_required(required, non_empty) if required else None
        )

    def native_prefilter(self, url_col: Column) -> Column | None:
        """F10 pushed OUT of the UDF: the reference checks the domain
        prefix in filter_soup (post-parse), but the predicate only
        needs the url — hoisting it before the Arrow stage is the
        Spark-first plan (same rows dropped, zero parse cost on them)."""
        if self.allowed_domain_prefixes is None:
            return None
        return domain_prefix_allowed(url_col, self.allowed_domain_prefixes)

    def filter_dom(self, dom: H.Node, meta: PageMeta) -> bool:
        for sel in self.must_exist:
            if not H.select(dom, sel):
                return False
        for sel in self.must_not_exist:
            if H.select(dom, sel):
                return False
        return True

    def _extract_field(self, dom: H.Node, spec: CssField) -> Any:
        root = dom
        if spec.scope:
            scoped = H.select(dom, spec.scope)
            if not scoped:
                return None
            root = scoped[0]
        hits = H.select(root, spec.selector)
        if not hits:
            return None
        val = hits[0].attrs.get(spec.attr) if spec.attr else hits[0].text()
        if val is not None and spec.transform is not None:
            val = spec.transform(val)
        return val

    def extract_dom(self, dom: H.Node, meta: PageMeta) -> dict | None:
        out: dict[str, Any] = {}
        for name, spec in self.fields.items():
            # a LIST of specs = the reference's combine_dicts merge:
            # first non-None wins (head > article > custom,
            # utils.py:201-220 via extractor.py:326-343).
            specs = spec if isinstance(spec, list) else [spec]
            val = None
            for s in specs:
                val = self._extract_field(dom, s)
                if val is not None:
                    break
            out[name] = val
        if self.is_valid_extraction is not None and not self.is_valid_extraction(
            out
        ):
            return None
        return out


def apply_extractor(
    df: DataFrame,
    extractor: SparkExtractor,
    html_col: str = "html",
    passthrough: list[str] | None = None,
    record_encoding_col: str | None = None,
    url_col: str | None = "url",
) -> DataFrame:
    """Compile an extractor into one mapInArrow stage.

    Output = passthrough columns + the extractor's declared schema.
    Rows the extractor drops (None) are filtered — the reference's
    ``None => dropped`` contract (extractor.py:24): the passthrough
    arrays keep the other rows by ``take``, and the extracted fields
    become arrays of their declared types. A ``content_type`` input
    column (the HTTP header of a fetched WARC response) reaches each
    row's ``PageMeta.content_type``, so its charset takes part in the
    encoding cascade.
    """
    passthrough = passthrough or []
    if url_col and url_col in df.columns:
        pre = extractor.native_prefilter(F.col(url_col))
        if pre is not None:
            df = df.where(pre)
    # Ship ONLY the columns the stage touches across the Python
    # boundary (optimization guide §4.1: Spark cannot see which columns
    # a mapInArrow function reads, so an explicit select is what lets
    # Catalyst prune the rest out of the scan and the Arrow transfer —
    # without it every input column, including the full document text,
    # crosses JVM->Python per row).
    needed: list[str] = list(passthrough)
    for c in (html_col, record_encoding_col, url_col, "content_type"):
        if c and c in df.columns and c not in needed:
            needed.append(c)
    df = df.select(*needed)
    in_schema = df.schema
    extra = (
        extractor.schema
        if isinstance(extractor.schema, StructType)
        else StructType.fromDDL(extractor.schema)
    )
    out_schema = StructType([in_schema[c] for c in passthrough] + extra.fields)
    out_names = out_schema.names
    ex_fields = [(f.name, to_arrow_type(f.dataType)) for f in extra.fields]
    meta_cols = [
        c if c in needed else None
        for c in (url_col, record_encoding_col, "content_type")
    ]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            htmls = batch.column(html_col).to_pylist()
            urls, encs, ctypes = (
                batch.column(c).to_pylist() if c else [None] * n for c in meta_cols
            )
            kept: list[int] = []
            results: list[dict] = []
            for i in range(n):
                raw = htmls[i]
                if raw is None:
                    continue
                meta = PageMeta(
                    url=urls[i], record_encoding=encs[i], content_type=ctypes[i]
                )
                res = extractor.extract_one(raw, meta)
                if res is None:
                    continue
                kept.append(i)
                results.append(res)
            idx = pa.array(kept, pa.int64())
            arrays = [batch.column(c).take(idx) for c in passthrough] + [
                pa.array([res.get(k) for res in results], type=t) for k, t in ex_fields
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(run, out_schema)
