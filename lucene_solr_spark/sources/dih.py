"""DataImportHandler re-expression (solr/contrib/dataimporthandler/
src/java/org/apache/solr/handler/dataimport/: DataImporter.java,
DocBuilder.java, EntityProcessor hierarchy, RegexTransformer.java,
TemplateTransformer.java, DateFormatTransformer.java).

Reference model: a data-config declares a tree of ENTITIES (root
entity = one Solr document per row; child entities = per-parent
sub-queries whose columns become multivalued fields), each with FIELD
mappings run through a transformer chain. full-import rebuilds
everything; delta-import selects rows changed since last_index_time.

Spark shape — the whole config compiles to ONE declarative DataFrame
plan, no per-row driver loop (the reference's DocBuilder iterates
JDBC cursors row-by-row; here every entity is a scan and every child
entity is a join):
- root entity       -> spark.read.<format>(path) [+ delta filter]
- child entity      -> groupBy(join key).agg(sorted collect_list)
                       then LEFT JOIN to the parent (DIH emits
                       multivalued fields; sort order is this port's
                       documented determinism addition — DocBuilder
                       preserves cursor order, which a distributed
                       shuffle cannot)
- RegexTransformer  -> regexp_extract (regex=) / regexp_replace
                       (regex= + replaceWith=) / split (splitBy=)
- TemplateTransformer -> concat of literals and ${entity.column} refs
- DateFormatTransformer -> date_format / to_timestamp
At 100 TB the child join is a plain shuffle hash join on the fk (or a
broadcast when the dimension side is small); delta-import becomes a
partition-pruned predicate when the table is date-partitioned.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_TEMPLATE_VAR = re.compile(r"\$\{([^}]+)\}")


@dataclass
class DIHField:
    """One <field .../> mapping. column = target name; src = source
    column (sourceColName, defaults to column); exactly one transform
    attribute may be set, mirroring RegexTransformer.process's
    splitBy > replaceWith > groupNames/extract precedence
    (RegexTransformer.java:118-128)."""
    column: str
    src: Optional[str] = None
    template: Optional[str] = None
    regex: Optional[str] = None
    replace_with: Optional[str] = None
    split_by: Optional[str] = None
    date_format: Optional[str] = None
    cast: Optional[str] = None

    def compile(self) -> Column:
        src = self.src or self.column
        if self.template is not None:
            parts: List[Column] = []
            pos = 0
            for m in _TEMPLATE_VAR.finditer(self.template):
                if m.start() > pos:
                    parts.append(F.lit(self.template[pos:m.start()]))
                ref = m.group(1).split(".")[-1]  # ${entity.col} -> col
                parts.append(F.col(ref).cast("string"))
                pos = m.end()
            if pos < len(self.template):
                parts.append(F.lit(self.template[pos:]))
            out: Column = F.concat(*parts) if parts else F.lit("")
        elif self.split_by is not None:
            out = F.split(F.col(src), self.split_by)
        elif self.replace_with is not None:
            # m.find() ? m.replaceAll : null (RegexTransformer:125)
            out = F.when(
                F.col(src).rlike(self.regex),
                F.regexp_replace(F.col(src), self.regex,
                                 self.replace_with))
        elif self.regex is not None:
            # single-group extraction (readfromRegExp, 1 group case)
            ex = F.regexp_extract(F.col(src), self.regex, 1)
            out = F.when(ex != "", ex)  # no match -> null, not ''
        elif self.date_format is not None:
            out = F.date_format(F.col(src), self.date_format)
        else:
            out = F.col(src)
        if self.cast:
            out = out.cast(self.cast)
        return out.alias(self.column)


@dataclass
class ChildEntity:
    """A sub-entity: per-parent rows folded into multivalued columns.
    value_field becomes array<string> sorted for determinism;
    aggregates (count) mirror the common rollup usage."""
    name: str
    path: str
    parent_key: str
    child_key: str
    value_field: DIHField = None  # type: ignore[assignment]
    fmt: str = "parquet"


@dataclass
class RootEntity:
    name: str
    path: str
    pk: str
    fields: List[DIHField] = dc_field(default_factory=list)
    children: List[ChildEntity] = dc_field(default_factory=list)
    delta_column: Optional[str] = None
    fmt: str = "parquet"


def full_import(spark: SparkSession, root: RootEntity,
                last_index_time=None) -> DataFrame:
    """Compile the entity tree to a DataFrame. With last_index_time
    set and a delta_column declared, only changed rows import
    (delta-import semantics, DocBuilder.collectDelta — expressed as a
    plain pushdown predicate instead of a pk round-trip)."""
    df = spark.read.format(root.fmt).load(root.path)
    if last_index_time is not None and root.delta_column:
        df = df.filter(F.col(root.delta_column) > F.lit(last_index_time))
    cols = [f.compile() for f in root.fields]
    out = df.select(F.col(root.pk), *cols)
    for ch in root.children:
        child = spark.read.format(ch.fmt).load(ch.path)
        vf = ch.value_field
        agg = (
            child.select(F.col(ch.child_key).alias("__k"),
                         vf.compile())
            .groupBy("__k")
            .agg(
                F.sort_array(F.collect_list(vf.column))
                 .alias(vf.column),
                F.count(F.lit(1)).alias(f"{ch.name}_count"),
            )
        )
        out = out.join(agg, out[root.pk] == agg["__k"], "left") \
                 .drop("__k")
        out = out.withColumn(
            f"{ch.name}_count",
            F.coalesce(F.col(f"{ch.name}_count"), F.lit(0)))
    return out


# ---------------------------------------------------------------------------
# Entity-processor / transformer pack (round 2)
# ---------------------------------------------------------------------------

def line_entity(lines: DataFrame, line_col: str = "rawLine",
                accept_line_regex: Optional[str] = None,
                skip_line_regex: Optional[str] = None) -> DataFrame:
    """LineEntityProcessor (LineEntityProcessor.java:83-132): each
    input line becomes a row carrying ``rawLine``; a line is kept
    only if acceptLineRegex FINDS a match (when set) and skipLineRegex
    does NOT (when set) — Matcher.find semantics == Catalyst rlike.
    The reference reads a BufferedReader serially; here the lines ARE
    a DataFrame (one pushdown-filterable scan)."""
    out = lines
    if accept_line_regex is not None:
        out = out.filter(F.col(line_col).rlike(accept_line_regex))
    if skip_line_regex is not None:
        out = out.filter(~F.col(line_col).rlike(skip_line_regex))
    if line_col != "rawLine":
        out = out.withColumn("rawLine", F.col(line_col))
    return out


def plain_text_entity(spark: SparkSession, text: str) -> DataFrame:
    """PlainTextEntityProcessor (PlainTextEntityProcessor.java:41-76):
    the whole data source drains into ONE row's ``plainText``."""
    return spark.createDataFrame([(text,)], "plainText string")


def file_list_entity(spark: SparkSession, base_dir: str,
                     file_name: Optional[str] = None,
                     excludes: Optional[str] = None,
                     recursive: bool = False,
                     bigger_than: int = -1, smaller_than: int = -1,
                     newer_than=None, older_than=None) -> DataFrame:
    """FileListEntityProcessor (FileListEntityProcessor.java:66-246):
    walk baseDir (required, must be a directory) emitting
    fileDir/file/fileAbsolutePath/fileSize/fileLastModified rows.
    fileName/excludes use find() semantics on the NAME; directories
    recurse only with recursive=true and are never emitted; size
    gates are strict (biggerThan excludes sz <= bound, smallerThan
    excludes sz >= bound); newerThan excludes older files, olderThan
    newer ones. The walk is driver-side like the reference (a file
    LISTING is metadata, not data); the result is a DataFrame so the
    downstream per-file reads distribute."""
    import os

    if not os.path.isdir(base_dir):
        raise ValueError(f"'baseDir' value: {base_dir} is not a "
                         "directory")
    name_re = re.compile(file_name) if file_name is not None else None
    excl_re = re.compile(excludes) if excludes is not None else None
    rows = []

    def walk(d):
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isdir(p):
                if recursive:
                    walk(p)
                continue
            if name_re is not None:
                if not name_re.search(name):
                    continue
                if excl_re is not None and excl_re.search(name):
                    continue
            st = os.stat(p)
            sz = st.st_size
            if bigger_than != -1 and sz <= bigger_than:
                continue
            if smaller_than != -1 and sz >= smaller_than:
                continue
            mtime = st.st_mtime
            if older_than is not None and mtime > older_than:
                continue
            if newer_than is not None and mtime < newer_than:
                continue
            rows.append((os.path.abspath(d), name, os.path.abspath(p),
                         sz, float(mtime)))

    walk(base_dir)
    return spark.createDataFrame(
        rows, "fileDir string, file string, fileAbsolutePath string, "
              "fileSize long, fileLastModified double")


_NFT_LOCALES = {
    # (grouping separator, decimal separator) — Locale.ROOT/en group
    # with ',' and point-decimal; de with '.' and comma-decimal
    "": (",", "."), "en": (",", "."), "en,US": (",", "."),
    "de": (".", ","), "de,DE": (".", ","),
}


def number_format_parse(val: str, style: str = "number",
                        locale: str = "") -> float:
    """NumberFormatTransformer.process/parseNumber
    (NumberFormatTransformer.java:62-131): java.text.NumberFormat
    parse with the WHOLE-string-consumed rule (trailing junk ->
    ParseException). Styles: integer (parse stops at the decimal
    separator -> trailing '.5' throws), number, percent (trailing
    '%', value/100). DecimalFormat's lenient grouping is kept: group
    separators are accepted at any position. Currency needs the
    JDK's per-locale symbol tables — unsupported here, documented."""
    sep_group, sep_dec = _NFT_LOCALES.get(locale, (",", "."))
    s = val.strip()
    pct = False
    if style == "percent":
        if not s.endswith("%"):
            raise ValueError("illegal number format")
        s = s[:-1]
        pct = True
    elif style == "currency":
        raise ValueError("currency style needs JDK locale symbol "
                         "tables (unsupported)")
    s = s.replace(sep_group, "")
    if sep_dec != ".":
        s = s.replace(sep_dec, ".")
    if style == "integer":
        m = re.fullmatch(r"-?\d+", s)
        if not m:
            raise ValueError("illegal number format")
        n = int(s)
    else:
        if not re.fullmatch(r"-?\d+(\.\d+)?", s):
            raise ValueError("illegal number format")
        n = float(s) if "." in s else int(s)
    if pct:
        return float(n) / 100.0
    return n


def number_format_column(col: Column, style: str = "number",
                         locale: str = "") -> Column:
    """Catalyst twin of number_format_parse for well-formed columns
    (the distributed path; malformed values come out NULL rather
    than throwing — the scalar form is the rule-exact gate)."""
    sep_group, sep_dec = _NFT_LOCALES.get(locale, (",", "."))
    s = F.trim(col)
    if style == "percent":
        s = F.regexp_replace(s, "%$", "")
    s = F.regexp_replace(s, re.escape(sep_group), "")
    if sep_dec != ".":
        s = F.regexp_replace(s, re.escape(sep_dec), ".")
    out = s.try_cast("double")
    if style == "percent":
        out = out / F.lit(100.0)
    if style == "integer":
        out = F.when(s.rlike(r"^-?\d+$"), s.try_cast("long"))
    return out


def html_strip_column(col: Column) -> Column:
    """HTMLStripTransformer (HTMLStripTransformer.java:42-95):
    stripHTML=true fields run through HTMLStripCharFilter — the
    engine's gated html_text codegen chain (sources/extract.py)."""
    from lucene_solr_spark.sources.extract import html_text

    return html_text(col)


class VariableResolver:
    """DIH VariableResolver (dataimport/VariableResolver.java:42-198):
    nested dotted namespaces with the reference's resolution order —
    walk namespace levels as far as they exist; at the deepest
    reached level try the REMAINING dotted parts re-joined as one
    literal key; then the ``dataimporter.functions.`` /
    ``dih.functions.`` evaluator dispatch (``name(args)`` via
    EVALUATOR_FORMAT_PATTERN, unknown evaluator -> ''); then system
    properties (injectable dict here — no JVM); missing resolves to
    ''. replaceTokens substitutes ``${...}`` placeholders in REVERSE
    match order so offsets stay valid; addNamespace supports both the
    named-map and dotted-key forms; a level collision with a non-map
    value raises (the reference's AssertionError)."""

    FUNCTIONS_NAMESPACE = "dataimporter.functions."
    FUNCTIONS_NAMESPACE_SHORT = "dih.functions."
    _PLACEHOLDER = re.compile(r"[$][{](.*?)[}]")
    _EVALUATOR = re.compile(r"^(\w*?)\((.*?)\)$")

    def __init__(self, defaults: Optional[dict] = None,
                 system_props: Optional[dict] = None):
        self.root: dict = dict(defaults or {})
        self.evaluators: Optional[dict] = None
        self.system_props = system_props or {}

    def _current_level(self, parts, include_last=False):
        level = self.root
        j = len(parts) if include_last else len(parts) - 1
        for i in range(j):
            o = level.get(parts[i])
            if o is None:
                if i == j - 1:
                    nxt: dict = {}
                    level[parts[i]] = nxt
                    level = nxt
                else:
                    return i, level
            elif isinstance(o, dict):
                level = o
            else:
                raise AssertionError(
                    f"Non-leaf nodes should be of type Map: {parts}")
        return j, level

    def resolve(self, name: Optional[str]):
        r = None
        if name is not None:
            parts = name.split(".")
            lvl, cur = self._current_level(parts)
            r = cur.get(parts[-1])
            if r is None and name.startswith(self.FUNCTIONS_NAMESPACE) \
                    and len(name) > len(self.FUNCTIONS_NAMESPACE):
                return self._resolve_evaluator(
                    self.FUNCTIONS_NAMESPACE, name)
            if r is None \
                    and name.startswith(self.FUNCTIONS_NAMESPACE_SHORT) \
                    and len(name) > len(self.FUNCTIONS_NAMESPACE_SHORT):
                return self._resolve_evaluator(
                    self.FUNCTIONS_NAMESPACE_SHORT, name)
            if r is None:
                r = cur.get(".".join(parts[lvl:]))
            if r is None:
                r = self.system_props.get(name)
        return "" if r is None else r

    def _resolve_evaluator(self, namespace, name):
        if self.evaluators is None:
            return ""
        m = self._EVALUATOR.search(name[len(namespace):])
        if not m:
            return ""
        ev = self.evaluators.get(m.group(1))
        if ev is None:
            return ""
        return ev(m.group(2), self)

    def replace_tokens(self, template: Optional[str]):
        if template is None:
            return None
        ms = list(self._PLACEHOLDER.finditer(template))
        if not ms:
            return template
        out = template
        for m in reversed(ms):
            out = (out[:m.start(0)]
                   + str(self.resolve(m.group(1)))
                   + out[m.end(0):])
        return out

    def get_variables(self, template: str):
        return [m.group(1)
                for m in self._PLACEHOLDER.finditer(template)]

    def add_namespace(self, name: Optional[str], new_map: dict):
        if new_map is None:
            return
        if name is not None:
            parts = name.split(".")
            _lvl, cur = self._current_level(parts)
            cur[parts[-1]] = new_map
        else:
            for k, v in new_map.items():
                parts = k.split(".")
                _lvl, cur = self._current_level(parts)
                cur[parts[-1]] = v


# ---------------------------------------------------------------------------
# DIH evaluators (Evaluator.java:73-135 + the four built-ins)
# ---------------------------------------------------------------------------

class VariableWrapper:
    """Evaluator.VariableWrapper (:112-130): a lazily-resolved
    parameter naming a resolver variable."""

    def __init__(self, var_name: str, vr: VariableResolver):
        self.var_name = var_name
        self.vr = vr

    def resolve(self):
        return self.vr.resolve(self.var_name)

    def __str__(self):
        o = self.resolve()
        return "" if o is None else str(o)


def parse_params(expression: str, vr: VariableResolver) -> list:
    """Evaluator.parseParams (:73-110): comma split; 'single-quoted'
    strings re-join across commas (unterminated throws) with \\'
    unescaped; digit-leading tokens parse as Double — an INVALID
    number whose text resolves as a variable is silently DROPPED
    (the reference adds nothing on that branch, kept bug-compatible),
    unresolvable ones throw; everything else wraps lazily."""
    result = []
    # Java String.split(",") drops TRAILING empty tokens ('a,,' ->
    # ['a']) where Python keeps them; match Java so no empty-name
    # VariableWrappers appear. A lone-quote segment ("'", from ',x)
    # re-joins across commas here where the reference's
    # substring(1,0) would throw StringIndexOutOfBounds — documented
    # divergence (the re-join is strictly more accepting).
    ss = [p for p in expression.strip().split(",")]
    while ss and ss[-1] == "":
        ss.pop()
    i = 0
    while i < len(ss):
        tok = ss[i].strip()
        if tok.startswith("'"):
            sb = [tok]
            while not sb[-1].endswith("'") or "".join(sb) == "'":
                i += 1
                if i >= len(ss):
                    raise ValueError(
                        f"invalid string at {ss[i - 1]} in function "
                        f"params: {expression}")
                sb.append(",")
                sb.append(ss[i])
            s = "".join(sb)[1:-1].replace("\\'", "'")
            result.append(s)
        elif tok and tok[0].isdigit():
            try:
                result.append(float(tok))
            except ValueError:
                # reference quirk kept: the catch checks
                # vr.resolve(tok) == null, but resolve NEVER returns
                # null (missing -> ""), so the throw is dead code and
                # every invalid digit-leading token silently DROPS
                # (Evaluator.java:93-103 + VariableResolver.resolve's
                # ''-for-missing)
                pass
        else:
            result.append(VariableWrapper(tok, vr))
        i += 1
    return result


def escape_query_chars(s: str) -> str:
    """ClientUtils.escapeQueryChars (solrj ClientUtils.java:224-238)."""
    special = set('\\+-!():^[]"{}~*?|&;/')
    out = []
    for c in s:
        if c in special or c.isspace():
            out.append("\\")
        out.append(c)
    return "".join(out)


def _url_encode(s: str) -> str:
    """java.net.URLEncoder.encode(s, "UTF-8"): alnum and .-*_ kept,
    space -> '+', everything else %XX per UTF-8 byte (uppercase)."""
    out = []
    for ch in s:
        if ch.isalnum() and ch.isascii() or ch in ".-*_":
            out.append(ch)
        elif ch == " ":
            out.append("+")
        else:
            out.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
    return "".join(out)


_SDF_MAP = [("yyyy", "%Y"), ("yy", "%y"), ("MM", "%m"), ("dd", "%d"),
            ("HH", "%H"), ("mm", "%M"), ("ss", "%S")]


def _sdf_format(dt, pattern: str) -> str:
    """SimpleDateFormat subset (the letters DIH configs use)."""
    out = pattern
    for sdf, strf in _SDF_MAP:
        out = out.replace(sdf, strf)
    return dt.strftime(out)


def default_evaluators(now=None):
    """DataImporter.getEvaluators (:515-521): the four built-ins under
    their registered names, pluggable beside user functions — plug
    the dict into VariableResolver.evaluators. ``now`` pins
    formatDate's clock (replay determinism; the reference uses the
    wall clock)."""
    from datetime import datetime

    from lucene_solr_spark.functions.datemath import parse_date_math

    if now is None:
        now = datetime(2024, 1, 3, 7, 45, 0)

    def escape_solr(args: str, vr) -> str:
        l = parse_params(args, vr)
        if len(l) != 1:
            raise ValueError(
                "'escapeQueryChars' must have at least one parameter ")
        return escape_query_chars(str(l[0]))

    def escape_sql(args: str, vr) -> str:
        l = parse_params(args, vr)
        if len(l) != 1:
            raise ValueError(
                "'escapeSql' must have at least one parameter ")
        s = str(l[0])
        # replaceAll chains (SqlEscapingEvaluator.java): ' -> '',
        # " -> "", \ -> \\  (backslash LAST, like the reference)
        return (s.replace("'", "''").replace('"', '""')
                .replace("\\", "\\\\"))

    def encode_url(args: str, vr) -> str:
        l = parse_params(args, vr)
        if len(l) != 1:
            raise ValueError(
                "'encodeUrl' must have at least one parameter ")
        return _url_encode(str(l[0]))

    def format_date(args: str, vr) -> str:
        l = parse_params(args, vr)
        if not 2 <= len(l) <= 4:
            raise ValueError(
                "'formatDate()' must have two, three or four "
                "parameters ")
        o, fmt = l[0], l[1]
        if isinstance(fmt, VariableWrapper):
            o = fmt.resolve()
            fmt = str(o)
        if isinstance(o, VariableWrapper):
            val = o.resolve()
            if isinstance(val, datetime):
                date = val
            else:
                date = datetime.strptime(str(val), "%Y-%m-%d %H:%M:%S")
        else:
            # date-math string: NOW stripped, the remainder parsed by
            # the gated DateMathParser
            expr = str(o).replace("NOW", "")
            date = parse_date_math("NOW" + expr, now)
        return _sdf_format(date, str(fmt))

    return {"formatDate": format_date, "escapeSql": escape_sql,
            "encodeUrl": encode_url,
            "escapeQueryChars": escape_solr}
