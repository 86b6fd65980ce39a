"""Source-code curation signals — pure Column expressions.

The graft's payload is source code (the north-star input is an Iceberg
table of repositories with a ``content`` column), so curation needs the
code-specific quality rules that web-text signals (functions/text.py)
miss. These are the published The-Stack / StarCoder data-pipeline
filters re-expressed as Catalyst Column expressions: long-line and
average-line-length caps, alphanumeric-fraction floor, auto-generated
and data-file detection, license-header tagging, plus a
formatting-invariant normalization (comment stripping + whitespace
collapse) whose sha256 powers "same code, different formatting" exact
dedup — the first pass of every public code-dedup pipeline before
MinHash (the reference's chunk-level dedup is format-sensitive by
design; this adds the format-insensitive layer on top).

Everything compiles to JVM-side expressions (split/regexp/HOFs): per-file
map work inside the scan stage, zero Python, no shuffle — the shape that
holds at 10^12 files. Regexes are restricted to the Java-regex ∩ RE2
subset (no lookarounds, no \\x0B-dependent classes) so every signal is
restatable verbatim in the DuckDB oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# First-lines markers from The Stack's auto-generated filter (public
# pipeline description, arXiv:2211.15533 §III): files carrying these in
# the head are lockfiles/protobuf/minified bundles, not human code.
AUTOGEN_PATTERN = (
    "(?i)auto[- ]?generated|automatically generated|do not edit|generated by"
)
# SPDX tags + the common license-header phrases (The Stack keeps permissive
# licenses only; here we just tag, the keep-policy belongs to the caller).
LICENSE_PATTERN = (
    "(?i)spdx-license-identifier|licensed under|mit license|apache license"
    "|gnu general public license"
)

# The Stack's default file filters (arXiv:2211.15533 §III.A).
MAX_LINE_LIMIT = 1000
AVG_LINE_LIMIT = 100
MIN_ALNUM_FRAC = 0.25


def _lines(col: Column) -> Column:
    """Raw newline-split lines (keeps blanks: line-length stats count the
    file as stored, unlike text.nonblank_lines)."""
    return F.split(col, "\n")


def max_line_length(col: Column) -> Column:
    """Length of the longest line (0 for empty docs) — The Stack drops
    files with a line over 1000 chars (minified JS, embedded blobs)."""
    lens = F.transform(_lines(col), lambda x: F.length(x))
    return F.coalesce(F.array_max(lens), F.lit(0)).cast("long")


def avg_line_length(col: Column) -> Column:
    """Mean line length over ALL newline-split lines, blanks included
    (The Stack drops files averaging > 100 chars). Integer sum/count,
    one double division — bit-stable on any IEEE engine."""
    lines = _lines(col)
    n = F.size(lines)
    total = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n)


def alnum_fraction(col: Column) -> Column:
    """Fraction of [A-Za-z0-9] characters (The Stack keeps >= 0.25;
    below that a file is mostly brackets/escapes/binary junk)."""
    n = F.length(col)
    alnum = n - F.length(F.regexp_replace(col, "[A-Za-z0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(alnum.cast("double") / n)


def _head(col: Column, n_lines: int) -> Column:
    return F.concat_ws("\n", F.slice(_lines(col), 1, n_lines))


def is_autogenerated(col: Column, head_lines: int = 5) -> Column:
    """1 when the first ``head_lines`` lines carry an auto-generation
    marker, else 0 (int, not boolean, for stable cross-engine hashing)."""
    return _head(col, head_lines).rlike(AUTOGEN_PATTERN).cast("int")


def has_license_header(col: Column, head_lines: int = 10) -> Column:
    """1 when the file head carries an SPDX tag or license phrase."""
    return _head(col, head_lines).rlike(LICENSE_PATTERN).cast("int")


def is_xml_head(col: Column) -> Column:
    """1 for files opening with an XML declaration — The Stack routes
    these to the data-file (not code) bucket."""
    return col.startswith("<?xml").cast("int")


# --- formatting-invariant normalization ---------------------------------

# Line-comment openers across the corpus languages (c/js '//...', py/sh
# '#...', sql/lua '--...'). The opener must be at line start or preceded
# by a non-colon character so scheme URLs ('http://x/a' vs 'http://x/b')
# never collapse two different files into one canonical form; RE2 has no
# lookbehind, so the guard is a captured prefix restored by the
# replacement ($1 in Java regex, \1 in RE2). Block comments (/* */) span
# lines and need non-greedy dotall matching that diverges between
# engines on unclosed comments, so the canonical form deliberately stops
# at line comments. KNOWN over-merge tradeoff of the language-agnostic
# form: '#'-led preprocessor lines (#include/#define) and '--' operators
# at end-of-line are stripped as comments — per-language routing
# (infer_lang) with per-language opener sets is the production path when
# that precision matters; the invariance tests plant exactly what the
# pattern claims to strip.
_LINE_COMMENT = "(?m)(^|[^:])(//|#|--).*$"
_LINE_COMMENT_KEEP = "$1"
# Explicit class, not \\s: Java's \\s includes \\x0B, RE2's does not.
_WS_RUN = "[ \t\r\n]+"


def normalize_code(col: Column) -> Column:
    """Canonical form for formatting-invariant dedup: strip line
    comments, collapse every whitespace run to one space, trim. Two
    files differing only in comments/indentation/line breaks normalize
    identically; any token change survives."""
    no_comments = F.regexp_replace(col, _LINE_COMMENT, _LINE_COMMENT_KEEP)
    return F.trim(F.regexp_replace(no_comments, _WS_RUN, " "))


def normalized_sha(col: Column) -> Column:
    """sha256 hex of the canonical form — the grouping key for
    formatting-invariant exact dedup (layered before MinHash in public
    code pipelines: it removes the near-dup mass that is pure
    reformatting at exact-hash cost)."""
    return F.sha2(normalize_code(col), 256)


# --- PII / secret detection + redaction ----------------------------------
#
# Public code pipelines (The Stack v2 / StarCoder, arXiv:2305.06161 §3)
# run a PII pass before release: emails, IP addresses, and credential
# material are detected and replaced with typed placeholder tokens. The
# published pipelines use an NER model for names; the regex family below
# is the deterministic detector subset, which is the part that is
# exactly restatable in SQL and auditable at corpus scale. Patterns stay
# in the Java-regex ∩ RE2 subset (no lookarounds) so each count and the
# redacted sha are bit-checkable against a DuckDB oracle.

EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}"
IPV4_PATTERN = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
# AWS access-key ids are the canonical published "secret scanning" regex
# (fixed AKIA prefix + 16 uppercase base32 chars).
AWS_KEY_PATTERN = "\\bAKIA[0-9A-Z]{16}\\b"
PRIVATE_KEY_PATTERN = "-----BEGIN [A-Z ]*PRIVATE KEY-----"
# Generic credential assignment: `password = "..."` / `api_key: '...'`
# with a non-trivial quoted value.
SECRET_ASSIGN_PATTERN = (
    "(?i)(api[_-]?key|secret|token|passwd|password)"
    "[ \t]*[:=][ \t]*[\"'][^\"']{8,}[\"']"
)


def _match_count(col: Column, pattern: str) -> Column:
    """Non-overlapping match count of ``pattern`` — JVM-side, per-file
    map work (F.size over regexp_extract_all; no Python)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("long")


def email_count(col: Column) -> Column:
    return _match_count(col, EMAIL_PATTERN)


def ipv4_count(col: Column) -> Column:
    return _match_count(col, IPV4_PATTERN)


def aws_key_count(col: Column) -> Column:
    return _match_count(col, AWS_KEY_PATTERN)


def private_key_count(col: Column) -> Column:
    return _match_count(col, PRIVATE_KEY_PATTERN)


def secret_assign_count(col: Column) -> Column:
    return _match_count(col, SECRET_ASSIGN_PATTERN)


def redact_pii(col: Column) -> Column:
    """Replace every detected PII/secret span with its typed placeholder
    (the StarCoder convention of special tokens, spelled readably).
    Order matters: credential assignments are redacted before the bare
    email/IP passes so the placeholder reflects the strongest signal."""
    out = F.regexp_replace(col, SECRET_ASSIGN_PATTERN, "<SECRET>")
    out = F.regexp_replace(out, PRIVATE_KEY_PATTERN, "<PRIVATE_KEY>")
    out = F.regexp_replace(out, AWS_KEY_PATTERN, "<AWS_KEY>")
    out = F.regexp_replace(out, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(out, IPV4_PATTERN, "<IP>")


# --- type-2 clone normalization ------------------------------------------
#
# Near-dup over source code should survive alpha-renaming: two functions
# that differ only in identifier names and literal values are type-2
# clones (Roy & Cordy's taxonomy). The canonical form below abstracts
# string literals -> "", numbers -> 0, and every non-keyword identifier
# -> id, while PRESERVING language keywords so control-flow structure
# still distinguishes files. RE2 has no lookarounds, so keyword
# preservation uses a mark/sweep trick both engines express: prefix each
# keyword with the sentinel "\x01 0" (control byte + digit). The digit
# glues onto the keyword's first letter, so the \b[A-Za-z_]-anchored
# identifier pass cannot match inside it (a \x01 sentinel ALONE would
# not protect — \x01 is a non-word byte, so a word boundary would still
# sit right before the keyword); the sweep then strips the sentinel.

CODE_KEYWORDS = (
    "if|else|elif|for|while|do|switch|case|default|break|continue|return"
    "|def|class|struct|enum|interface|function|lambda|yield|async|await"
    "|import|from|package|namespace|using|include|module|export"
    "|public|private|protected|static|final|const|var|let|void"
    "|int|float|double|bool|char|string|long|short|unsigned"
    "|new|delete|try|except|catch|finally|throw|throws|raise|assert"
    "|in|is|not|and|or|true|false|null|none|nil|this|self|super"
)
_KW_MARK = "\\b(" + CODE_KEYWORDS + ")\\b"
_STRING_LIT = "\"[^\"\\n]*\"|'[^'\\n]*'"
_NUMBER_LIT = "\\b[0-9]+(\\.[0-9]+)?\\b"
_IDENT = "\\b[A-Za-z_][A-Za-z0-9_]*\\b"


def normalize_tokens(col: Column) -> Column:
    """Type-2 canonical form: comments stripped, string/number literals
    abstracted (to ``""`` / ``0`` — non-identifier tokens the rename
    pass cannot touch), non-keyword identifiers renamed to ``id``,
    whitespace collapsed. Alpha-renamed + re-literal'd copies normalize
    identically; any keyword/operator/structure change survives."""
    out = F.regexp_replace(col, _LINE_COMMENT, _LINE_COMMENT_KEEP)
    out = F.regexp_replace(out, _STRING_LIT, '""')
    out = F.regexp_replace(out, _NUMBER_LIT, "0")
    # mark keywords (case-sensitive: `If` is an identifier, `if` is not)
    out = F.regexp_replace(out, _KW_MARK, "\x010$1")
    out = F.regexp_replace(out, _IDENT, "id")
    out = F.regexp_replace(out, "\x010", "")
    return F.trim(F.regexp_replace(out, _WS_RUN, " "))


def clone_sha(col: Column) -> Column:
    """sha256 hex of the type-2 canonical form — the grouping key for
    rename-invariant exact-clone dedup (the cheap layer under MinHash
    for code corpora, where fork + rename is the dominant near-dup
    mode)."""
    return F.sha2(normalize_tokens(col), 256)


# --- language identification (routing) ------------------------------------
#
# The Stack assigns language by file extension before any content filter
# (arXiv:2211.15533 §III); shebang lines cover extensionless scripts.
# Routing is a pure projection — it decides which per-language filter
# config applies downstream, so it must be cheap and deterministic.

EXT_LANG = {
    "py": "py", "pyw": "py",
    "js": "js", "jsx": "js", "mjs": "js",
    "java": "java",
    "c": "c", "h": "c",
    "go": "go",
    "md": "md", "markdown": "md",
}

_SHEBANG_LANG = [
    ("python", "py"),
    ("node", "js"),
]


def infer_lang(path_col: Column, content_col: Column) -> Column:
    """Language from path extension, shebang fallback, 'unknown' else.
    A Column-expression chain (lowercased extension lookup via chained
    whens, then a first-line shebang probe) — scan-stage map work."""
    ext = F.lower(F.regexp_extract(path_col, r"\.([A-Za-z0-9]+)$", 1))
    result = F.lit("unknown")
    first_line = F.substring_index(content_col, "\n", 1)
    for marker, lang in reversed(_SHEBANG_LANG):
        result = F.when(
            first_line.startswith("#!") & first_line.contains(marker),
            F.lit(lang),
        ).otherwise(result)
    for e, lang in EXT_LANG.items():
        result = F.when(ext == e, F.lit(lang)).otherwise(result)
    return result


# --- license classification -------------------------------------------------
#
# The Stack's pipeline keeps only permissively-licensed repos
# (arXiv:2211.15533 §III); `has_license_header` above only tags presence.
# This layer CLASSIFIES: an SPDX tag wins when present (it is the
# machine-readable ground truth), else the first matching header phrase.
# Rule order matters — AGPL/LGPL phrases contain the GPL phrase, so the
# more specific family must be probed first. Patterns stay in the
# Java-regex ∩ RE2 subset so the DuckDB oracle restates them verbatim.

SPDX_PATTERN = "spdx-license-identifier:[ \\t]*([a-z0-9.+-]+)"

LICENSE_RULES: list[tuple[str, str]] = [
    ("agpl-3.0", "gnu affero general public license"),
    ("lgpl-2.1", "gnu (lesser|library) general public license"),
    ("gpl-3.0", "gnu general public license"),
    ("mpl-2.0", "mozilla public license"),
    ("apache-2.0", "apache license"),
    ("mit", "mit license"),
    ("bsd-3-clause", "redistribution and use in source and binary forms"),
    ("isc", "isc license"),
    ("unlicense", "free and unencumbered software"),
]

# Copyleft families by license-id prefix (covers SPDX variants like
# gpl-3.0-only / lgpl-2.1+ / cc-by-sa-4.0 as well as our phrase ids).
_COPYLEFT_PREFIX = "^(agpl|gpl|lgpl|mpl|cc-by-sa|epl|cecill)"
# Permissive families The Stack keeps; anything else (copyleft, unknown
# SPDX ids, or no detectable license) is dropped by the default policy.
_PERMISSIVE_PREFIX = "^(mit|apache|bsd|isc|unlicense|cc0|zlib)"

LICENSE_HEAD_LINES = 20


def license_id(col: Column, head_lines: int = LICENSE_HEAD_LINES) -> Column:
    """License id from the file head: the SPDX tag when present (lowered,
    e.g. 'mit', 'gpl-3.0-only'), else the first matching header phrase's
    family id, else 'none'. Pure scan-stage map work."""
    head = F.lower(_head(col, head_lines))
    spdx = F.regexp_extract(head, SPDX_PATTERN, 1)
    phrase = F.lit("none")
    for lic, pat in reversed(LICENSE_RULES):
        phrase = F.when(head.rlike(pat), F.lit(lic)).otherwise(phrase)
    return F.when(spdx != "", spdx).otherwise(phrase)


def is_copyleft(license_col: Column) -> Column:
    """1 when the license id belongs to a copyleft family (by id prefix,
    so SPDX variants like 'gpl-2.0-only' classify correctly)."""
    return license_col.rlike(_COPYLEFT_PREFIX).cast("int")


def license_keep(license_col: Column) -> Column:
    """The Stack's keep policy: 1 only for explicitly permissive license
    families. No license detected ('none') is a DROP, matching the
    published pipeline (unlicensed code is not redistributable)."""
    return license_col.rlike(_PERMISSIVE_PREFIX).cast("int")


# --- file-role routing (The Stack v2's path-based metadata pass) --------

# priority order matters: a vendored test file is vendored first (you
# exclude the whole vendor tree before reasoning about anything else),
# generated beats test (a generated *_test.go is still machine output)
ROLE_VENDORED_RE = r"(^|/)(vendor|vendored|third_party|thirdparty|node_modules|deps|external)/"
ROLE_TEST_PATH_RE = (
    r"(^|/)(tests?|spec|__tests__)/"
    r"|(^|/)test_[^/]*$|_test\.[A-Za-z0-9]+$|Test\.java$|\.spec\.[jt]sx?$"
)
ROLE_GENERATED_PATH_RE = r"(_pb2\.py|\.pb\.go|\.g\.cs|\.min\.(js|css))$"
ROLE_DOCS_RE = r"\.(md|rst|txt|adoc)$"
ROLE_CONFIG_RE = r"\.(json|ya?ml|toml|ini|cfg|lock|properties)$"


def file_role(path_col: Column, content_col: Column) -> Column:
    """Route each file to one of {vendored, generated, test, docs,
    config, source} from its path (and the generated-content header) —
    the metadata tagging public code pipelines (The Stack, StarCoder)
    run before any content pass. Pure Column exprs, scan-stage map
    work."""
    return (
        F.when(path_col.rlike(ROLE_VENDORED_RE), F.lit("vendored"))
        .when(
            path_col.rlike(ROLE_GENERATED_PATH_RE)
            | (is_autogenerated(content_col) == 1),
            F.lit("generated"),
        )
        .when(path_col.rlike(ROLE_TEST_PATH_RE), F.lit("test"))
        .when(path_col.rlike(ROLE_DOCS_RE), F.lit("docs"))
        .when(path_col.rlike(ROLE_CONFIG_RE), F.lit("config"))
        .otherwise(F.lit("source"))
    )


# --- Comment-density signals (StarCoder, arXiv:2305.06161 §3.1) ------------
#
# StarCoder's pipeline drops files whose comment-to-file ratio is extreme:
# near-zero comments usually means generated/minified code, mostly-comments
# means a data/doc file. The published pipeline measures comments with a
# parser; at 10^12 files a line-marker heuristic (the mainstream
# line-comment openers, leading indentation allowed) keeps the signal a
# pure Column expression — one regex per line inside the scan stage. The
# marker regex is in the Java-regex ∩ RE2 subset so the DuckDB oracle
# restates it verbatim.

COMMENT_LINE_PATTERN = "^[ \\t]*(//|/\\*|\\*/|\\*|--|#|;)"

# Keep bounds as integer percents: 1% <= comment chars / total chars <= 80%.
COMMENT_RATIO_MIN_PCT = 1
COMMENT_RATIO_MAX_PCT = 80


def _comment_lines(col: Column) -> Column:
    return F.filter(_lines(col), lambda x: x.rlike(COMMENT_LINE_PATTERN))


def comment_line_count(col: Column) -> Column:
    """Number of lines opening with a line-comment marker (leading
    spaces/tabs allowed): ``// /* */ * -- # ;``."""
    return F.size(_comment_lines(col)).cast("long")


def comment_char_count(col: Column) -> Column:
    """Total stored length of the comment lines (the numerator of the
    comment-to-file ratio; exact integer so the keep rule needs no
    float division)."""
    return F.aggregate(
        _comment_lines(col),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x),
    ).cast("long")


def has_docstring(col: Column) -> Column:
    """1 when the file contains a triple-quoted string delimiter (Python
    docstring convention) — a positive quality signal StarCoder weighs
    separately from line comments."""
    return (col.contains('"""') | col.contains("'''")).cast("int")


def comment_keep(n_comment_chars: Column, n_chars: Column) -> Column:
    """StarCoder-style bounds on the comment ratio, stated in exact
    integer cross-products: MIN_PCT <= 100*chars_c/chars <= MAX_PCT
    (vacuously true for empty files)."""
    hundred = n_comment_chars * 100
    return (
        (hundred >= n_chars * COMMENT_RATIO_MIN_PCT)
        & (hundred <= n_chars * COMMENT_RATIO_MAX_PCT)
    ).cast("int")
