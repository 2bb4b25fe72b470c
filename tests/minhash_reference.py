"""Spark-expression form of the MinHash → LSH band rows: the parity
reference for the numpy signer (operators/dedup.py `lsh_band_rows`).

Every step is the universal-hash arithmetic written as Spark array
expressions (transform/aggregate lambdas), exactly as the DuckDB oracle
writes it in SQL, so the signer is pinned bit-for-bit against an
independent evaluation.  Too slow for production: the lambdas never
enter whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.dedup import (
    _BAND_C,
    _CHAR_B,
    MERSENNE31,
    perm_coeffs,
    word_shingles,
)


def portable_shingle_hashes(sh_col: F.Column) -> F.Column:
    """array<string> shingles → array<bigint> via a char-rolling
    polynomial mod 2^31-1.  Values stay < 2^31·131 + codepoint — exact
    int64, ANSI-safe, and reproducible in DuckDB as
    list_reduce(string_split(s, ''), (acc,x) -> (acc*131+ascii)%p)."""
    P = F.lit(MERSENNE31)
    return F.transform(
        sh_col,
        lambda s: F.aggregate(
            F.split(s, ""),
            F.lit(0).cast("bigint"),
            lambda acc, ch: (
                acc * F.lit(_CHAR_B)
                + F.coalesce(F.ascii(ch), F.lit(0)).cast("bigint")
            )
            % P,
        ),
    )


def portable_minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures built exclusively from cross-engine-exact
    arithmetic: slot i = min over shingle hashes h of (a_i·h + b_i) mod p."""
    P = F.lit(MERSENNE31)
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    ).where(F.size("shingles") > 0)
    hashed = sh.select(
        F.col(id_col), portable_shingle_hashes(F.col("shingles")).alias("hashes")
    )
    def _perm(a: int, b: int):
        # closure factory: a default-arg lambda would change the visible
        # arity and break transform's (elem[, idx]) signature contract
        return lambda h: (h * F.lit(a) + F.lit(b)) % P

    sig = F.array(
        *[
            F.array_min(F.transform("hashes", _perm(a, b)))
            for a, b in perm_coeffs(num_perm)
        ]
    )
    return hashed.select(F.col(id_col), sig.alias("signature"))


def portable_band_hashes(
    sig_col: F.Column, bands: int, rows_per_band: int
) -> F.Column:
    """array of `bands` band-hashes: fold each signature slice with
    (acc·C + v) mod p — the DuckDB oracle nests the same fold."""
    P = F.lit(MERSENNE31)
    return F.array(
        *[
            F.aggregate(
                F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                F.lit(0).cast("bigint"),
                lambda acc, v: (acc * F.lit(_BAND_C) + v) % P,
            )
            for b in range(bands)
        ]
    )


def portable_banded_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """(__id, band, band_hash) rows — same relation as lsh_band_rows."""
    sigs = portable_minhash_signatures(
        docs, id_col=id_col, text_col=text_col, num_perm=num_perm,
        shingle_n=shingle_n,
    )
    return sigs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            portable_band_hashes(F.col("signature"), bands, rows_per_band)
        ).alias("band", "band_hash"),
    )
