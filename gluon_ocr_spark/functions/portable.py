"""Dual-dialect (Spark SQL / DuckDB) expression builders.

The driver's correctness gate hashes query outputs from Spark against
DuckDB, so every operator that involves hashing or arithmetic must be
**bit-identical across engines**. The trick: derive all hashes from
``md5`` (identical everywhere), keep all arithmetic in 64-bit signed
integers (no float accumulation), and generate both dialects from one
template so the numeric logic cannot drift.

Conventions shared by both dialects:

* token hash  = first 15 hex digits of ``md5(token)`` as bigint
  (< 2^60, so modular products below stay within int64);
* minhash     = ``min((a_i * code + b_i) mod P)`` over token codes,
  ``P = 1e9+7``, K seeded permutations (classic Broder construction);
* simhash     = 16-bit sign-aggregate of token-hash bits;
* embeddings  = quantized to integers via ``floor(x * 10000)`` before
  any similarity math, so dot products are exact int64 and top-k
  ranking is deterministic in both engines (inner-product metric);
* LSH         = signed random ±1 hyperplanes (seeded literals), bucket
  bits from exact integer dot-product signs.

Spark lambdas: a lambda body never refers to the token-array
expression (``tokens(...)`` is ``split(lower(text), ' ')``, an
expression, not a column). Catalyst inlines it into the body, so an
index lambda such as ``i -> element_at(<split>, i)`` re-splits the
whole text once per element — quadratic in the doc length. Pair
neighbours with ``zip_with`` / ``arrays_zip`` over slices of the
array instead; the lambda then sees only its elements.
"""

from __future__ import annotations

import random

P = 1_000_000_007  # modulus for minhash permutations
MINHASH_K = 16  # signature length
BAND_ROWS = 4  # rows per LSH band → 4 bands
EMB_QUANT = 10_000  # embedding quantization factor
LSH_BITS = 8  # hyperplanes for embedding LSH
EMB_DIM = 64

_rng = random.Random(0xC0FFEE)
MINHASH_A = [_rng.randrange(1, P) for _ in range(MINHASH_K)]
MINHASH_B = [_rng.randrange(0, P) for _ in range(MINHASH_K)]
# ±1 hyperplanes, EMB_DIM each
LSH_PLANES = [[_rng.choice((-1, 1)) for _ in range(EMB_DIM)] for _ in range(LSH_BITS)]

SPARK, DUCK = "spark", "duck"


def hex15(expr: str, d: str) -> str:
    """First 15 hex chars of md5 → bigint, identical in both engines."""
    if d == SPARK:
        return f"cast(conv(substring(md5({expr}),1,15),16,10) as bigint)"
    return f"('0x'||substring(md5({expr}),1,15))::BIGINT"


def tokens(col: str, d: str) -> str:
    """Lowercased whitespace tokens (documents are single-spaced)."""
    if d == SPARK:
        return f"split(lower({col}), ' ')"
    return f"string_split(lower({col}), ' ')"


def transform(arr: str, lam: str, d: str) -> str:
    return f"transform({arr}, {lam})" if d == SPARK else f"list_transform({arr}, {lam})"


def arr_filter(arr: str, lam: str, d: str) -> str:
    return f"filter({arr}, {lam})" if d == SPARK else f"list_filter({arr}, {lam})"


def arr_min(arr: str, d: str) -> str:
    return f"array_min({arr})" if d == SPARK else f"list_min({arr})"


def arr_size(arr: str, d: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def arr_distinct(arr: str, d: str) -> str:
    return f"array_distinct({arr})" if d == SPARK else f"list_distinct({arr})"


def arr_sum_bigint(arr: str, d: str) -> str:
    """Exact integer sum of a bigint array.

    DuckDB's ``list_sum`` over BIGINT widens to HUGEINT (int128) —
    pyarrow then materializes decimal128(38,0), which value-hashes
    differently from Spark's bigint even when numerically identical.
    All sums here are < 2^63 by construction, so cast back to BIGINT
    to keep the cross-engine output type identical."""
    if d == SPARK:
        return f"aggregate({arr}, cast(0 as bigint), (acc, v) -> acc + v)"
    return f"CAST(list_sum({arr}) AS BIGINT)"


def str_split(expr: str, sep: str, d: str) -> str:
    """Split on a LITERAL separator. Spark's split() takes a regex, so
    regex metacharacters must be escaped on that side only."""
    if d == SPARK:
        esc = "".join("\\\\" + c if c in r".^$*+?()[]{}|\\" else c for c in sep)
        return f"split({expr}, '{esc}')"
    return f"string_split({expr}, '{sep}')"


def arr_sort(arr: str, d: str) -> str:
    return f"array_sort({arr})" if d == SPARK else f"list_sort({arr})"


def arr_join(arr: str, sep: str, d: str) -> str:
    return f"array_join({arr}, '{sep}')" if d == SPARK else f"array_to_string({arr}, '{sep}')"


def arr_at(arr: str, idx: int, d: str) -> str:
    """1-based element access; negative counts from the end (both
    engines follow that convention for their respective forms)."""
    return f"element_at({arr}, {idx})" if d == SPARK else f"{arr}[{idx}]"


def token_codes(col: str, d: str) -> str:
    """Array of modular token codes for a text column."""
    lam = f"t -> {hex15('t', d)} % {P}"
    return transform(tokens(col, d), lam, d)


def shingle_codes(col: str, d: str, n: int = 3) -> str:
    """Array of modular hash codes of word n-gram shingles (the
    canonical MinHash unit). Documents shorter than n tokens fall back
    to a single whole-text shingle. Engine-identical by construction:
    shingle string → md5 → int, like token codes."""
    toks = tokens(col, d)
    size = arr_size(toks, d)
    if d == SPARK:
        # n shifted slices zipped: the k-th field of each struct is
        # token i+k of the i-th shingle (see the module rule on lambdas)
        shifted = ", ".join(f"slice({toks}, {k + 1}, {size} - {n - 1})" for k in range(n))
        gram = "concat_ws(' ', " + ", ".join(f"s['{k}']" for k in range(n)) + ")"
        grams = f"transform(arrays_zip({shifted}), s -> {hex15(gram, d)} % {P})"
        whole_text = f"concat_ws(' ', {toks})"
        whole = f"array({hex15(whole_text, d)} % {P})"
    else:
        gram = f"array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')"
        seq = f"generate_series(1, {size} - {n - 1})"
        grams = f"list_transform({seq}, i -> {hex15(gram, d)} % {P})"
        whole_text = f"array_to_string({toks}, ' ')"
        whole = f"[{hex15(whole_text, d)} % {P}]"
    return f"(case when {size} >= {n} then {grams} else {whole} end)"


def minhash_sig_exprs(codes: str, d: str) -> list[str]:
    """K minhash expressions over a token-code array column/expr."""
    out = []
    for a, b in zip(MINHASH_A, MINHASH_B):
        lam = f"c -> ({a} * c + {b}) % {P}"
        out.append(arr_min(transform(codes, lam, d), d))
    return out


def band_key_expr(codes: str, band: int, d: str) -> str:
    """LSH band key: '-'-joined minhash values of one band."""
    sigs = minhash_sig_exprs(codes, d)
    lo = band * BAND_ROWS
    vals = ", ".join(sigs[lo : lo + BAND_ROWS])
    return f"concat_ws('-', {vals})"


def simhash16_expr(codes: str, d: str) -> str:
    """16-bit simhash: for each bit, sign of Σ(±1) over token-hash bits."""
    terms = []
    for b in range(16):
        bit_arr = transform(codes, f"h -> ((h >> {b}) & 1) * 2 - 1", d)
        s = arr_sum_bigint(bit_arr, d)
        terms.append(f"(case when {s} > 0 then {1 << b} else 0 end)")
    return "(" + " + ".join(terms) + ")"


def quantize_vec(col: str, d: str, q: int = EMB_QUANT) -> str:
    """float array → exact int64 array (floor(x*q)); float→double widening
    and the double product are IEEE-exact, floor is engine-identical."""
    lam = f"e -> cast(floor(cast(e as double) * {q}) as bigint)"
    return transform(col, lam, d)


def int_dot(a: str, b: str, d: str) -> str:
    """Exact int64 dot product of two bigint arrays (BIGINT in BOTH
    dialects — see arr_sum_bigint on the DuckDB HUGEINT widening)."""
    if d == SPARK:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)"
    return f"CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) AS BIGINT)"


def plane_literal(i: int, d: str) -> str:
    vals = ", ".join(str(v) for v in LSH_PLANES[i])
    return f"array({vals})" if d == SPARK else f"[{vals}]"


def lsh_bucket_expr(qvec: str, d: str, n_bits: int = LSH_BITS) -> str:
    """n_bits-bit bucket id from hyperplane sign bits (exact ints).

    Fewer bits ⇒ bigger buckets ⇒ higher recall & more compute — the
    standard hyperplane-LSH tradeoff; callers tune per corpus."""
    terms = []
    for i in range(n_bits):
        dot = int_dot(plane_literal(i, d), qvec, d)
        terms.append(f"(case when {dot} > 0 then {1 << i} else 0 end)")
    return "(" + " + ".join(terms) + ")"
