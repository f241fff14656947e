"""Scalar function catalog (reference: code/tools.py — SURVEY.md §2.8).

Every function here returns a pyspark Column built from builtin
`pyspark.sql.functions` (JVM-side, whole-stage-codegen'd) wherever the
semantics allow.  pandas_udf (Arrow-vectorized) is used only for the
genuinely Python-bound tail (Damerau-Levenshtein, Jaro-Winkler, full
Unicode NFKD) — and each of those also ships a builtin approximation
for the hot path.

Cross-engine determinism: `md5_long` produces the same 60-bit integer
in Spark and in ANSI SQL (DuckDB: CAST('0x'||substr(md5(x),1,15) AS
BIGINT)), so hash-derived operators (MinHash, SimHash, fingerprints)
are exactly reproducible by the correctness oracle.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves postponed pandas_udf type hints

from pyspark.sql import Column
from pyspark.sql import functions as F

# Output precision, the one rule for every operator: a float is rounded
# HALF_UP to NDIGITS places (`F.round` on a Column, Python `round` on a
# value computed on the driver) before it leaves the operator.  Float
# sums differ in their last bits between engines and partitionings;
# these are the digits the DuckDB oracles round to, so outputs hash
# identically across engines.  An operator whose oracle keeps fewer
# digits writes its literal and names it in its docstring.
NDIGITS = 6

# ---------------------------------------------------------------------------
# normalization / tokenization (reference: code/tools.py:109-155)
# ---------------------------------------------------------------------------

# Latin accent fold covering Latin-1 Supplement + Latin Extended-A/B head,
# generated from NFKD at import time so it exactly matches the reference's
# "NFKD then drop non-ASCII" (code/tools.py:142-155) for every covered
# codepoint.  F.translate is a codegen'd char-map — no UDF, no Arrow hop.
# Codepoints whose NFKD has no ASCII part (ß, ø, æ, þ, đ …) are *deleted*,
# like the reference does: translate drops chars in src beyond len(dst),
# so deletions sit at the end of the src string.


def _build_accent_tables() -> tuple[str, str, list[tuple[str, str]]]:
    import unicodedata

    mapped_src, mapped_dst, deleted, multi = [], [], [], []
    for cp in range(0xC0, 0x250):  # Latin-1 Supp + Extended-A/B
        ch = chr(cp)
        dec = "".join(c for c in unicodedata.normalize("NFKD", ch) if ord(c) < 128)
        if dec == ch:
            continue  # already ASCII-composable? (not in this range)
        if len(dec) == 1:
            mapped_src.append(ch)
            mapped_dst.append(dec)
        elif len(dec) == 0:
            deleted.append(ch)
        else:
            # ligature-style folds (Ĳ -> IJ, ǅ -> Dz, ŉ -> 'n): translate
            # is 1:1, these need a (short, fixed) replace chain pre-pass
            multi.append((ch, dec))
    src = "".join(mapped_src) + "".join(deleted)
    dst = "".join(mapped_dst)
    assert len(dst) <= len(src)
    return src, dst, multi


_ACCENT_SRC, _ACCENT_DST, _ACCENT_MULTI = _build_accent_tables()


def fold_accents(c: Column) -> Column:
    """Accent-strip for Latin scripts via a translate table (codegen'd).

    The reference NFKD-decomposes then drops non-ASCII
    (code/tools.py:142-155); for the covered Latin range the result is
    identical: 1-char folds go through one `F.translate` (a codegen'd
    char map), the ~15 ligature folds through a fixed `F.replace`
    chain, chars with no ASCII decomposition are deleted (translate
    drops src chars beyond len(dst)).  `nfkd_ascii` below is the exact
    full-Unicode path.
    """
    out = c
    for ch, dec in _ACCENT_MULTI:
        out = F.replace(out, F.lit(ch), F.lit(dec))
    return F.translate(out, _ACCENT_SRC, _ACCENT_DST)


def normalize(c: Column) -> Column:
    """lower + accent-fold + non-alphanumeric -> space + squeeze + trim.

    Reference semantics: code/tools.py:142-155 (`normalize`).
    """
    out = F.lower(fold_accents(c))
    out = F.regexp_replace(out, r"[^a-z0-9]+", " ")
    return F.trim(out)


_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
]


def strip_html(c: Column) -> Column:
    """Markup removal for web-crawl text: drop ``<...>`` tags (replaced
    with a space so ``a</p><p>b`` doesn't weld words), decode the six
    entities that dominate crawled text (``&amp;`` last — single-pass
    decode, not recursive), then squeeze whitespace.  A regex pass, not
    an HTML parser: malformed/nested markup degrades gracefully, which
    is the right trade at crawl scale where a DOM parse per doc is the
    cost ceiling.  Pure Column expressions — codegen'd, shuffle-free.
    """
    out = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def tokenize(c: Column) -> Column:
    """Whitespace tokenization -> array<string>; empty or null input ->
    empty array (the reference returns [] for None, code/tools.py:121-127).
    """
    trimmed = F.trim(c)
    return F.when(
        trimmed.isNull() | (trimmed == ""), F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def ngrams(c: Column, n: int = 3) -> Column:
    """Character n-grams of each whitespace token, flattened (tools.py:109-113).

    Tokens shorter than ``n`` contribute themselves (so no token is lost —
    matches the blocking-key use in the reference's matching recipes).
    Pure Column expression: transform + sequence + substring.
    """
    toks = tokenize(c)
    grams = F.transform(
        toks,
        lambda t: F.when(
            F.length(t) <= n,
            F.array(t),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: t.substr(i, F.lit(n)),
            )
        ),
    )
    return F.flatten(grams)


def shingles(c: Column, n: int = 3) -> Column:
    """Distinct character n-gram shingles of the *whole* normalized string
    (spaces included) — the standard near-dup unit for MinHash/Jaccard."""
    s = c
    return F.array_distinct(
        F.when(F.length(s) <= n, F.array(s)).otherwise(
            F.transform(F.sequence(F.lit(1), F.length(s) - (n - 1)), lambda i: s.substr(i, F.lit(n)))
        )
    )


# ---------------------------------------------------------------------------
# hashing (reference: code/tools.py:100-107)
# ---------------------------------------------------------------------------


def sha1(c: Column) -> Column:
    return F.sha1(c)


def sha256(c: Column) -> Column:
    return F.sha2(c, 256)


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash, identical across engines.

    first 15 hex digits of md5 -> bigint.  DuckDB oracle equivalent:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    Used by MinHash/SimHash/fingerprint so the correctness oracle can
    reproduce signatures exactly.  (The reference uses blake3 for row
    ids — code/tools.py:105-107 — an opaque-id use where any stable
    hash is equivalent.)
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def row_hash(*cols: Column) -> Column:
    """Stable row id from all columns (reference builds ES `_id` this way,
    code/recipes.py:778-779)."""
    return F.sha2(F.to_json(F.struct(*cols)), 256)


# ---------------------------------------------------------------------------
# string similarity (reference: code/tools.py:157-227)
# ---------------------------------------------------------------------------


def levenshtein(a: Column, b: Column) -> Column:
    """Plain Levenshtein (builtin, codegen'd).  The reference uses
    Damerau-Levenshtein (tools.py:173-211); transpositions differ by at
    most 1 — `damerau_levenshtein` below is the exact variant."""
    return F.levenshtein(a, b)


def levenshtein_norm(a: Column, b: Column) -> Column:
    """round(100 - 100*lv/(1 + min(len))) / 100 — reference tools.py:213-227.

    Python's ``round`` is half-even on the exact binary double, which is
    ``F.rint`` (IEEE roundTiesToEven) — NOT ``F.round`` (HALF_UP), which
    diverges at .5 midpoints (e.g. lv=7, min=7 -> 12.5 -> 12, not 13).
    Both engines evaluate this in IEEE double over integer inputs, so the
    oracle (DuckDB ``round_even``) matches bit-for-bit.
    """
    lv = F.levenshtein(a, b).cast("double")
    m = F.least(F.length(a), F.length(b)).cast("double")
    return F.rint(F.lit(100.0) - F.lit(100.0) * lv / (F.lit(1.0) + m)) / F.lit(100.0)


def levenshtein_norm_max(a_list: Column, b_list: Column) -> Column:
    """Max normalized similarity over the cross-product of two string
    arrays (the reference applies tools.levenshtein to lists by taking the
    best pair, tools.py:213-227).  Pure Column: nested transform + flatten
    + array_max."""
    pairs = F.flatten(
        F.transform(
            a_list,
            lambda a: F.transform(
                b_list,
                lambda b: F.rint(
                    F.lit(100.0)
                    - F.lit(100.0)
                    * F.levenshtein(a, b).cast("double")
                    / (F.lit(1.0) + F.least(F.length(a), F.length(b)).cast("double"))
                )
                / F.lit(100.0),
            ),
        )
    )
    return F.array_max(pairs)


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro-Winkler (standard definition, prefix scale 0.1, max prefix 4)."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    f1 = [False] * l1
    f2 = [False] * l2
    m = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - window)
        hi = min(i + window + 1, l2)
        for j in range(lo, hi):
            if not f2[j] and s2[j] == ch:
                f1[i] = f2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if jaro <= 0.7:  # winkler boost threshold (jellyfish/DuckDB parity)
        return jaro
    prefix = 0
    for a, b in zip(s1, s2):
        if a == b and prefix < 4:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1.0 - jaro)


def _damerau_py(s1: str, s2: str) -> int:
    """Damerau-Levenshtein (optimal string alignment), pure python."""
    l1, l2 = len(s1), len(s2)
    if not l1:
        return l2
    if not l2:
        return l1
    prev2: list[int] = []
    prev = list(range(l2 + 1))
    for i in range(1, l1 + 1):
        cur = [i] + [0] * l2
        for j in range(1, l2 + 1):
            cost = 0 if s1[i - 1] == s2[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and s1[i - 1] == s2[j - 2] and s1[i - 2] == s2[j - 1]:
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
    return prev[l2]


def _make_pandas_udfs():
    """Arrow-vectorized UDFs for the Python-bound tail.  Built lazily so
    importing the catalog never requires an active SparkSession."""
    import pandas as pd

    @F.pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_jaro_winkler_py(x or "", y or "") for x, y in zip(a, b)],
            dtype="float64",
        )

    @F.pandas_udf("int")
    def damerau_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([_damerau_py(x or "", y or "") for x, y in zip(a, b)], dtype="int32")

    @F.pandas_udf("string")
    def nfkd_udf(s: pd.Series) -> pd.Series:
        import unicodedata

        def _n(x):
            if x is None:
                return None
            return "".join(ch for ch in unicodedata.normalize("NFKD", x) if ord(ch) < 128)

        return s.map(_n)

    return jw_udf, damerau_udf, nfkd_udf


_UDFS = None


def _udfs():
    global _UDFS
    if _UDFS is None:
        _UDFS = _make_pandas_udfs()
    return _UDFS


def jw(a: Column, b: Column) -> Column:
    """Jaro-Winkler similarity (reference tools.py:157-171 via jellyfish).
    No Spark builtin — Arrow-vectorized pandas_udf."""
    return _udfs()[0](a, b)


def damerau_levenshtein(a: Column, b: Column) -> Column:
    """Exact Damerau-Levenshtein (reference tools.py:173-211)."""
    return _udfs()[1](a, b)


def nfkd_ascii(c: Column) -> Column:
    """Full-Unicode NFKD accent strip (exact reference semantics,
    tools.py:142-155) — the thorough path; `fold_accents` is the
    codegen'd hot path."""
    return _udfs()[2](c)


# ---------------------------------------------------------------------------
# geo (reference: code/tools.py:65-78)
# ---------------------------------------------------------------------------


def geopoint_lat(wkt: Column) -> Column:
    """POINT(lon lat) -> lat (reference tools.py:65-69 returns (lat, lon))."""
    return F.regexp_extract(wkt, r"POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 2).cast("double")


def geopoint_lon(wkt: Column) -> Column:
    return F.regexp_extract(wkt, r"POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 1).cast("double")


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km, 0.1 km precision (the reference uses
    geodesic at 0.1 precision, tools.py:74-78; haversine agrees to <0.5%
    — documented tolerance, SURVEY.md §2.7)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    km = F.lit(2.0 * 6371.0088) * F.asin(F.sqrt(a))
    return F.round(km, 1)


# ---------------------------------------------------------------------------
# casts / json / misc (reference: code/tools.py:25-63)
# ---------------------------------------------------------------------------


def float_val(c: Column) -> Column:
    """float(x) with 0.0 on failure (tools.py:25-29).  try_cast, not
    cast: under ANSI mode (the Spark 4 default) a plain cast THROWS on
    malformed input — the reference's contract is coerce, never raise.

    Python's ``float`` accepts PEP 515 digit grouping (``'1_0'`` →
    10.0) which Spark's cast does not, so single underscores BETWEEN
    digits are stripped as the FALLBACK (lookaround regex: ``'1__0'``
    keeps its underscores, fails the cast, and yields 0.0 — exactly
    like ``float('1__0')`` raising).  The direct try_cast runs first
    (round-13 advisor): a FloatType input widens binary-exact
    (``1.1f`` → 1.100000023841858, matching ``float(np.float32)``)
    instead of taking a value-changing string round-trip, and numeric
    columns never pay the regex."""
    stripped = F.regexp_replace(c.cast("string"), "(?<=[0-9])_(?=[0-9])", "")
    return F.coalesce(
        c.try_cast("double"), stripped.try_cast("double"), F.lit(0.0)
    )


def parsedate(c: Column, fmt: str = "%Y%m%d") -> Column:
    """String -> timestamp, null on failure (errors='coerce',
    tools.py:44-48).  ``fmt`` is a python strptime format."""
    return F.try_to_timestamp(c, F.lit(strptime_to_java(fmt)))


def to_json(*cols: Column) -> Column:
    return F.to_json(F.struct(*cols))


def replace_dict_col(c: Column, dic: dict) -> Column:
    """Whole-value exact-match mapping (reference ``replace_dict``,
    tools.py:90-98): the cell is replaced only when it *equals* a key,
    otherwise it passes through unchanged.  Compiles to a when-chain —
    pure codegen, no lookup table shipped to Python."""
    out = None
    for k, v in dic.items():
        cond = c == F.lit(k)
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    return c if out is None else out.otherwise(c)


def replace_regex_col(c: Column, regex: dict) -> Column:
    """Ordered regex->replacement chain (reference ``replace_regex``,
    tools.py:80-88), with python->java pattern/template dialect
    translation."""
    for pat, repl in regex.items():
        c = F.regexp_replace(c, python_regex_to_java(pat), python_repl_to_java(str(repl)))
    return c


def strptime_to_java(fmt: str) -> str:
    """Translate a python strptime format to a Java DateTimeFormatter
    pattern (the user surface keeps the reference's python formats)."""
    mapping = {
        "%Y": "yyyy",
        "%y": "yy",
        "%m": "MM",
        "%d": "dd",
        "%H": "HH",
        "%M": "mm",
        "%S": "ss",
        "%f": "SSSSSS",
        "%j": "DDD",
        "%z": "Z",
    }
    out = fmt
    for py, java in mapping.items():
        out = out.replace(py, java)
    return out


def python_regex_to_java(pat: str) -> str:
    """Python -> Java regex dialect translation for the constructs that
    actually differ and appear in reference confs: named groups
    ``(?P<x>)`` -> ``(?<x>)``, named backrefs ``(?P=x)`` -> ``\\k<x>``,
    ``\\Z`` (py: end before final newline ≈ java ``\\z``).  Character
    classes, anchors, quantifiers, inline flags ``(?i)`` are shared.
    Unsupported python-isms (conditional groups) pass through and fail
    loudly at Spark analysis time rather than silently diverging."""
    import re as _re

    out = _re.sub(r"\(\?P<([^>]+)>", r"(?<\1>", pat)
    out = _re.sub(r"\(\?P=([A-Za-z_][A-Za-z0-9_]*)\)", r"\\k<\1>", out)
    out = out.replace(r"\Z", r"\z")
    return out


def python_repl_to_java(repl: str) -> str:
    import re as _re

    return _re.sub(r"\\(\d)", r"$\1", repl)


def ordered_sum(key: Column, value: Column) -> Column:
    """Aggregate: Σ ``value`` over the group, added left to right in
    ascending ``key`` order (ties on ``key`` by ``value``).

    Float addition is not associative, so ``F.sum`` over doubles depends
    on partition and arrival order: a total sitting on a ``round(·,
    NDIGITS)`` boundary can flip with parallelism.  Sorting the
    collected (key, value) pairs fixes the fold order, so the result is
    bit-identical at any partition count and matches an oracle that
    sums with ``ORDER BY key``.  The group's pairs are collected into
    one array, so use it where groups are bounded."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(key.alias("k"), value.alias("v")))),
        F.lit(0.0),
        lambda a, x: a + x["v"],
    )


# ---------------------------------------------------------------------------
# MinHash / SimHash signatures (LLM-pipeline primitives; cross-engine exact)
# ---------------------------------------------------------------------------


def _perm_constant(i: int) -> int:
    """XOR-mix constant for permutation ``i`` — the same value both
    engines derive as md5_long('perm#i'); precomputed in python so the
    Spark expression tree stays flat."""
    import hashlib

    return int(hashlib.md5(f"perm#{i}".encode()).hexdigest()[:15], 16)


def minhash_signature_from_hashes(hashes: Column, num_perm: int = 32) -> Column:
    """array<bigint> of ``num_perm`` min-hashes over a pre-hashed
    token array (one md5_long per token, staged by the caller so it
    computes once).  Permutation i = base_hash XOR md5_long('perm#i');
    signature element = min.  One md5 per token total — permutations
    are single XORs.  DuckDB oracle: ``list_min(list_transform(hs,
    h -> xor(h, <const>)))``.
    """

    def _mix(c):
        return lambda h: h.bitwiseXOR(F.lit(c))

    return F.array(
        *[F.array_min(F.transform(hashes, _mix(_perm_constant(i)))) for i in range(num_perm)]
    )


def minhash_signature(tokens: Column, num_perm: int = 32) -> Column:
    """As above, from a raw token/shingle array.  NOTE: prefer staging
    ``F.transform(tokens, md5_long)`` as its own column and calling
    ``minhash_signature_from_hashes`` — expressions referenced inside
    higher-order lambdas re-evaluate per element, so an inlined token
    expression would be recomputed ``num_perm`` times."""
    return minhash_signature_from_hashes(F.transform(tokens, lambda t: md5_long(t)), num_perm)


def simhash64(tokens: Column, bits: int = 60) -> Column:
    """SimHash over a token array: per-bit majority vote of token hashes,
    packed into a bigint (60 bits so the md5-derived hash stays exact).

    Column-only: aggregate over tokens accumulating a vote vector, then
    pack sign bits.  No UDF, no shuffle.
    """
    # bit masks are python-int literals: F.shiftleft/shiftright require a
    # literal shift count (a lambda-bound Column there fails to construct
    # under pyspark 4), and literal masks also skip the per-element shift
    # work.  The token hash binds once per token via transform, so the
    # `bits` mask tests reference a computed value, not the md5 chain.
    hashes = F.transform(tokens, lambda t: md5_long(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(h.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float|double> columns — zip_with + aggregate,
    JVM-side (no UDF).

    Zero-norm vectors produce NULL (not an ANSI ``DIVIDE_BY_ZERO`` crash):
    ``try_divide`` yields NULL on a zero divisor, and a descending sort on
    the similarity places NULLs last — the semantics the ANN/embedding
    family specifies for degenerate embeddings.
    """
    return F.try_divide(cosine_dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_dot(a: Column, b: Column) -> Column:
    """The dot-product fold :func:`cosine_similarity` uses — exposed so
    pair verifiers that precompute per-row norms keep the identical
    IEEE fold order for the numerator."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """The exact norm fold :func:`cosine_similarity` uses — exposed so
    pair verifiers can compute each ROW's norm once instead of twice
    per PAIR (the norm is a per-row quantity; recomputing it inside a
    quadratic verify triples the fold work).  Same expression, same
    fold order — combining ``try_divide(cosine_dot(a, b),
    l2_norm(a) * l2_norm(b))`` is bit-identical to
    :func:`cosine_similarity`."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


_SOUNDEX_CODES = (
    ("[bfpv]", "1"),
    ("[cgjkqsxz]", "2"),
    ("[dt]", "3"),
    ("l", "4"),
    ("[mn]", "5"),
    ("r", "6"),
    ("[aeiouy]", "0"),
)


def soundex(c: Column) -> Column:
    """American Soundex as a pure Column regexp chain — the classic
    phonetic blocking key for entity-resolution candidate generation
    (pair it with :func:`~backend_spark.operators.joins.join_fuzzy`'s
    verify step; the reference blocks on raw/normalized tokens only).
    Deliberately NOT `F.soundex`: engine builtins disagree on the
    H/W collapse rule and DuckDB has none, while this chain reproduces
    canonically on any regexp engine (RE2-safe — no backreferences).

    Canonical rules covered: keep the first letter; drop h/w from the
    tail BEFORE coding (so consonants separated by h/w collapse —
    Ashcraft→A261); code b f p v→1 … r→6, vowels→0; collapse runs;
    the kept letter's own code collapses with a same-coded follower
    (Pfister→P236); strip the vowel separators; right-pad with 0 to 4.
    Non-alpha characters are ignored; empty/non-alpha input → ''.
    """
    s = F.lower(F.regexp_replace(c, "[^A-Za-z]", ""))
    first = F.upper(F.substring(s, 1, 1))
    tail = F.regexp_replace(F.substring(s, 2, 1 << 20), "[hw]", "")
    x = F.concat(F.substring(s, 1, 1), tail)
    for pat, d in _SOUNDEX_CODES:
        x = F.regexp_replace(x, pat, d)
    for d in "0123456":
        x = F.regexp_replace(x, d + "{2,}", d)
    rest = F.regexp_replace(F.substring(x, 2, 1 << 20), "0", "")
    out = F.rpad(F.concat(first, F.substring(rest, 1, 3)), 4, "0")
    return F.when(s.isNull() | (F.length(s) == 0), F.lit("")).otherwise(out)

# Caverphone 2.0 (Hood, Caversham Project technical paper CTP060902,
# University of Otago, 2004) — published rule order, applied to the
# lowercased a-z-stripped input.  Shared by the Column builder below and
# the DuckDB oracle (which folds the SAME list into regexp_replace(...,
# 'g') calls), so both engines run one rule table.  RE2-safe: literal
# patterns, anchors and + only — no backreferences.
CAVERPHONE_RULES = (
    ("e$", ""),
    ("^cough", "cou2f"),
    ("^rough", "rou2f"),
    ("^tough", "tou2f"),
    ("^enough", "enou2f"),
    ("^trough", "trou2f"),
    ("^gn", "2n"),
    ("mb$", "m2"),
    ("cq", "2q"),
    ("ci", "si"),
    ("ce", "se"),
    ("cy", "sy"),
    ("tch", "2ch"),
    ("c", "k"),
    ("q", "k"),
    ("x", "k"),
    ("v", "f"),
    ("dg", "2g"),
    ("tio", "sio"),
    ("tia", "sia"),
    ("d", "t"),
    ("ph", "fh"),
    ("b", "p"),
    ("sh", "s2"),
    ("z", "s"),
    ("^[aeiou]", "A"),
    ("[aeiou]", "3"),
    ("j", "y"),
    ("^y3", "Y3"),
    ("^y", "A"),
    ("y", "3"),
    ("3gh3", "3kh3"),
    ("gh", "22"),
    ("g", "k"),
    ("s+", "S"),
    ("t+", "T"),
    ("p+", "P"),
    ("k+", "K"),
    ("f+", "F"),
    ("m+", "M"),
    ("n+", "N"),
    ("w3", "W3"),
    ("wh3", "Wh3"),
    ("w$", "3"),
    ("w", "2"),
    ("^h", "A"),
    ("h", "2"),
    ("r3", "R3"),
    ("r$", "3"),
    ("r", "2"),
    ("l3", "L3"),
    ("l$", "3"),
    ("l", "2"),
    ("2", ""),
    ("3$", "A"),
    ("3", ""),
)


def caverphone(c: Column) -> Column:
    """Caverphone 2.0 phonetic key (10 chars, '1'-padded) as a pure
    Column regexp chain — the New Zealand electoral-roll matching key;
    a longer, more selective blocking key than :func:`soundex` for
    entity-resolution candidate generation.  Like soundex this is kept
    engine-neutral: one shared rule table (``CAVERPHONE_RULES``), no
    backreferences, so Spark (Java regex) and the DuckDB oracle (RE2)
    reproduce bit-identically.  Published test vectors pinned in
    tests (Peter→PTA1111111, Stevenson→STFNSN1111).  Empty/non-alpha
    input → '' (mirrors soundex, diverging from the spec's all-1s key
    for the empty string, which carries no blocking information).
    """
    s = F.lower(F.regexp_replace(c, "[^A-Za-z]", ""))
    x = s
    for pat, rep in CAVERPHONE_RULES:
        x = F.regexp_replace(x, pat, rep)
    out = F.substring(F.concat(x, F.lit("1" * 10)), 1, 10)
    return F.when(s.isNull() | (F.length(s) == 0), F.lit("")).otherwise(out)


def ipv4_long(c: Column) -> Column:
    """Dotted-quad IPv4 -> BIGINT (0..2^32-1), NULL for malformed input
    (wrong shape or an octet > 255).  Pure Column split/arithmetic —
    reproduces exactly in ANSI SQL:
    ``o1*16777216 + o2*65536 + o3*256 + o4`` over
    ``string_split(ip, '.')`` with the same shape/range guards.
    """
    p = F.split(c, r"\.")
    o = [F.element_at(p, i).cast("long") for i in (1, 2, 3, 4)]
    val = o[0] * F.lit(16777216) + o[1] * F.lit(65536) + o[2] * F.lit(256) + o[3]
    shape = c.rlike(r"^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}$")
    in_range = (o[0] <= 255) & (o[1] <= 255) & (o[2] <= 255) & (o[3] <= 255)
    return F.when(shape & in_range, val)


def cidr_range(c: Column) -> Column:
    """CIDR string (``a.b.c.d/n``) -> struct(lo BIGINT, hi BIGINT), the
    half-open address range [lo, hi); NULL for malformed input.  The
    base address is masked down to the prefix (so ``10.0.0.7/8``
    normalizes to ``10.0.0.0/8``), all in exact integer arithmetic
    (2^(32-n) via shiftleft on BIGINT — no float pow).
    """
    base = ipv4_long(F.element_at(F.split(c, "/"), 1))
    bits = F.element_at(F.split(c, "/"), 2).cast("int")
    # 2^(32-n): pow on doubles is exact for exponents <= 32, so the
    # long cast is lossless (F.shiftleft needs a literal shift amount)
    span = F.pow(F.lit(2.0), (F.lit(32) - bits)).cast("long")
    lo = base - F.pmod(base, span)  # mask to prefix, integer-only
    ok = base.isNotNull() & bits.isNotNull() & (bits >= 0) & (bits <= 32)
    return F.when(ok, F.struct(lo.alias("lo"), (lo + span).alias("hi")))


_REFINED_SOUNDEX_CODES = (
    ("[bp]", "1"),
    ("[fv]", "2"),
    ("[cks]", "3"),
    ("[gj]", "4"),
    ("[qxz]", "5"),
    ("[dt]", "6"),
    ("l", "7"),
    ("[mn]", "8"),
    ("r", "9"),
    ("[aeiouhwy]", "0"),
)


def refined_soundex(c: Column) -> Column:
    """Refined Soundex (the Apache commons-codec variant): first letter
    + the code of EVERY letter (vowels/h/w/y code 0) with adjacent
    equal codes collapsed — no truncation, no zero-stripping, so it is
    far more selective than classic :func:`soundex` ('testing' →
    T6036084).  The third phonetic blocking key in the ER catalog
    (soundex: coarse, high recall; caverphone: electoral-roll tuned;
    refined: fine-grained, low false-merge).

    Same engine-neutral construction as the others: a pure regexp
    chain, RE2-safe (character classes + ``d{2,}`` collapses, no
    backreferences), reproduced verbatim by the DuckDB oracle.
    Empty/non-alpha input → ''.
    """
    s = F.lower(F.regexp_replace(c, "[^A-Za-z]", ""))
    first = F.upper(F.substring(s, 1, 1))
    x = s
    for pat, d in _REFINED_SOUNDEX_CODES:
        x = F.regexp_replace(x, pat, d)
    for d in "0123456789":
        x = F.regexp_replace(x, d + "{2,}", d)
    out = F.concat(first, x)
    return F.when(s.isNull() | (F.length(s) == 0), F.lit("")).otherwise(out)


def phone_digits(c: Column, default_cc: str = "33") -> Column:
    """Phone-number standardization to a bare digit string with an
    explicit country code ("E.164 without the +") — the contact
    normalization matchID-style identity prep runs before exact or
    fuzzy matching (the reference normalizes names/dates with replace
    chains, code/tools.py; phones follow the same recipe shape).

    Rules, applied to the raw value:
      * strip everything but digits and a leading ``+``
        (spaces, dots, dashes, parentheses — all formatting dies)
      * ``+CC...`` and ``00CC...`` → ``CC...`` (international forms)
      * ``0X...`` (national form, single leading zero) → ``default_cc``
        + ``X...`` (France ``33`` by default: 0612... → 33612...)
      * anything else (already bare, or empty after cleaning) is kept
        as-is; null → null.

    Pure Column regexp chain, RE2-safe, reproduced verbatim by DuckDB
    oracles.  Deliberately NOT a validity check — length/plan rules
    vary per country; pair with a length filter when one applies.
    """
    s = F.regexp_replace(c, r"[^0-9+]", "")
    s = F.regexp_replace(s, r"^\+", "__p__")          # protect ONE leading +
    s = F.regexp_replace(s, r"[+]", "")               # interior + is noise
    s = F.regexp_replace(s, r"^__p__", "+")
    s = F.regexp_replace(s, r"^\+", "00")             # +CC == 00CC
    s = F.regexp_replace(s, r"^00(\d)", r"$1")        # 00CC... -> CC...
    return F.regexp_replace(s, r"^0(\d)", default_cc + r"$1")  # national -> CC


def email_norm(c: Column) -> Column:
    """Email standardization for exact-match keys: trim whitespace,
    strip a ``mailto:`` prefix and surrounding angle brackets
    (``<a@b.c>`` copy-paste forms), lowercase.  Deliberately NO
    provider-specific rewrites (gmail dot-dropping etc.) — those merge
    distinct mailboxes on other providers.  Null → null; a value with
    no ``@`` comes back cleaned but is not validated (pair with the
    pii_scan email regex as a gate when one applies)."""
    s = F.regexp_replace(c, r"^\s+|\s+$", "")
    s = F.regexp_replace(s, r"^[<]|[>]$", "")
    s = F.regexp_replace(s, r"^(?i)mailto:", "")
    return F.lower(s)


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat: Column, lon: Column, precision: int = 8) -> Column:
    """Standard geohash (Niemeyer base32) of a WGS84 point — THE
    equality blocking key for geospatial entity resolution: prefix
    length = cell size, so `groupBy(geohash(...,p))` or an equi-join
    on it blocks candidate pairs the way :func:`~backend_spark
    .operators.joins.geo_join`'s internal grid does, but as a
    portable, indexable string (prefix match = spatial containment).

    Construction is arithmetic, not the textbook bisection loop: a
    geohash's bit string IS the Morton interleave of the quantized
    coordinates — lon_q = floor((lon+180)/360 · 2^ceil(5p/2)) on the
    even bit positions (MSB first), lat_q likewise on the odd ones —
    so the whole thing is the `scale.zorder_key` bit trick plus a
    base32 map per 5-bit group.  Pure Column expressions (shiftleft /
    bitwiseOR / element_at), codegen'd, no UDF, and exactly
    reproducible in ANSI SQL for the oracle.

    ``precision`` 1-12 chars (12 = 60 bits, fits a bigint; 8 ≈ 19 m
    cell).  Poles/antimeridian inputs clamp to the last cell (the
    standard convention: lat=90 → the 89.99.. cell).  Null lat or lon
    → null.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash: precision must be in 1..12, got {precision}")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2  # even positions 0,2,4.. (MSB first)
    lat_bits = nbits // 2
    lon_q = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))),
        F.lit((1 << lon_bits) - 1),
    ).cast("long")
    lat_q = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))),
        F.lit((1 << lat_bits) - 1),
    ).cast("long")
    def spread(x):
        # Morton bit-spread (bit j -> bit 2j) via the 5 magic-mask
        # steps — O(1) expression size, stays inside one codegen span
        # (the naive per-bit chain blows the JIT method limit at p>=8)
        x = F.shiftleft(x, 16).bitwiseOR(x).bitwiseAND(F.lit(0x0000FFFF0000FFFF).cast("long"))
        x = F.shiftleft(x, 8).bitwiseOR(x).bitwiseAND(F.lit(0x00FF00FF00FF00FF).cast("long"))
        x = F.shiftleft(x, 4).bitwiseOR(x).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F).cast("long"))
        x = F.shiftleft(x, 2).bitwiseOR(x).bitwiseAND(F.lit(0x3333333333333333).cast("long"))
        return F.shiftleft(x, 1).bitwiseOR(x).bitwiseAND(F.lit(0x5555555555555555).cast("long"))

    if nbits % 2 == 0:  # equal widths: lon on the odd LSB positions
        val = F.shiftleft(spread(lon_q), 1).bitwiseOR(spread(lat_q))
    else:  # lon one bit wider: lon on the even LSB positions
        val = spread(lon_q).bitwiseOR(F.shiftleft(spread(lat_q), 1))
    # base32 digits: one conv() over the single val expression (an
    # element_at per 5-bit group would copy the interleave tree per
    # char and blow the codegen method limit), then remap Spark's
    # 0-9A-V digit set onto the geohash alphabet
    digits = F.lpad(F.lower(F.conv(val, 10, 32)), precision, "0")
    out = F.translate(digits, "abcdefghijklmnopqrstuv", _GEOHASH32[10:])
    return F.when(lat.isNotNull() & lon.isNotNull(), out)
