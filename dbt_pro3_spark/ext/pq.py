"""Product quantization (PQ) approximate nearest neighbor search.

The third classic ANN scale path alongside sign-LSH (similarity.py) and
IVF (ivf.py): compress each vector to M subspace codes (here 8 codes of
4 bits each — 64 dims -> 8 bytes, a 32x compression), then rank by
distance against the RECONSTRUCTED (decoded) vectors. At 100 TB the win
is memory traffic: the scan reads 8-byte codes instead of 256-byte
vectors, and the decode is a literal table lookup baked into the plan.

Codebooks are hash-sampled medoids (the subvectors of the same ks corpus
rows ivf.py's medoid quantizer selects by md5(id)): exact data values, no
float training, so the whole PQ pipeline — encode, decode, shortlist,
rerank — is a deterministic dual-engine computation and ext_ann_pq is
fully oracle-checkable (k-means codebooks' iterated float means cannot be
reproduced bit-exactly in SQL; subvector medoids can). Everything
corpus-sized — encoding, decoding, scoring — is a pure Column expression
over baked centroid literals: no shuffle, no UDF, and only ks rows ever
cross the driver boundary. tests/test_pq_recall.py pins the recall floor
against the exact brute-force ground truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import as_double, double_sql


def medoid_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    seeds: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Per-subspace medoid codebooks: codebook j holds the j-th subvectors
    of the ks corpus rows with the smallest md5(id) (ivf.medoid_seeds) —
    deterministic, SQL-reproducible, one bounded ks-row collect. Pass
    ``seeds`` (e.g. ivf.shared_medoid_seeds) to reuse an already-collected
    seed set."""
    from .ivf import medoid_seeds

    if seeds is None:
        seeds = medoid_seeds(df, k=ks, id_col=id_col, vec_col=vec_col)
    dim = len(seeds[0])
    assert dim % m == 0, f"dim {dim} must divide into {m} subspaces"
    sub = dim // m
    return [[s[j * sub : (j + 1) * sub] for s in seeds] for j in range(m)]


def _table_lit(book: list[list[float]]) -> Column:
    """Baked centroid-table literal via ONE SQL parse. Building the nested
    array element-by-element with F.lit costs ~2k py4j round trips per
    ext_ann_pq plan build (encode + decode together measured ~2 s of pure
    driver time per invocation — profile_key r11); one parsed literal is
    milliseconds. ``double_sql`` bakes each value bit-identical to the
    F.lit form, non-finite ones included."""
    rows = ", ".join(
        "array(" + ", ".join(double_sql(x) for x in c) + ")" for c in book
    )
    return F.expr(f"array({rows})")


def _bind(value: Column, fn) -> Column:
    """Evaluate ``value`` ONCE and pass it to ``fn`` as a lambda variable —
    the transform-over-singleton trick. Codegen inlines a computed-array
    column into every expression that references it (the element_at blowup
    documented in similarity.dot: 128 distance folds each re-running the
    64-element cast transform measured 6-9 s for a 2000-row encode); a
    lambda variable is a materialized value, so the folds read it."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def encode(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Attach the PQ code array (one int per subspace): per subspace the
    argmin-distance centroid index, ties to the lowest index (array_position
    finds the FIRST minimum — deterministic)."""
    sub = len(books[0][0])

    def codes_for(v: Column) -> Column:
        out = []
        for j, book in enumerate(books):
            table = _table_lit(book)
            piece = F.slice(v, j * sub + 1, sub)
            d = F.transform(
                table,
                lambda c: F.aggregate(
                    F.zip_with(piece, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
            )
            out.append(
                _bind(
                    d,
                    lambda dd: (
                        F.array_position(dd, F.array_min(dd)) - 1
                    ).cast("int"),
                )
            )
        return F.array(*out)

    return df.withColumn(
        code_col, _bind(as_double(F.col(vec_col)), codes_for)
    )


def decode_expr(books: list[list[list[float]]], code_col: str = "pq_codes") -> Column:
    """Reconstructed vector: per subspace, look the code up in a baked
    centroid-table literal; flatten the m pieces back to a full vector."""
    pieces = []
    for j, book in enumerate(books):
        table = _table_lit(book)
        pieces.append(F.element_at(table, F.element_at(F.col(code_col), j + 1) + 1))
    return F.flatten(F.array(*pieces))
