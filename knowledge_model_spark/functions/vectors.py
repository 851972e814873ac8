"""Vector math over ``array<float>`` columns — pure SQL, no UDFs.

The reference holds vectors in FAISS (exact inner product on L2-normalized
embeddings, reference: knowledge_model/embeddings/vector_store.py:44-47).
Here vectors are first-class array columns; dot/cosine are higher-order
functions (``zip_with`` + ``aggregate``) that run JVM-side, so a 100 TB
similarity scan never crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from knowledge_model_spark.functions.text_analysis import bind1


def double_array_lit(xs) -> Column:
    """array<double> literal via ONE sql-parse round trip.

    ``F.lit(list)`` / ``F.array(*[F.lit(x), ...])`` marshal every
    element through py4j individually — measured ~1 ms per element of
    pure driver time, which turns iterative plan builders (k-center,
    Bloom bitmaps) into O(elements) py4j chatter.  ``repr(float)`` is
    the shortest round-tripping decimal and Spark parses double
    literals correctly rounded, so the values are bit-identical to the
    ``F.lit`` form.
    """
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in xs) + ")")


def dot(a: Column, b: Column) -> Column:
    """Inner product of two equal-length array columns.

    (reference semantics: vector_store.py:47,150-156 — IndexFlatIP)
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def l2_normalize(a: Column) -> Column:
    """L2-normalize (encode(normalize_embeddings=True) equivalent,
    reference: build_faiss.py:79-85).

    ``a`` is bound once (:func:`bind1`) and folded by ONE aggregate
    whose ``finish`` lambda does the division: the vector and its
    sum-of-squares are lambda VARIABLES
    there, so each is computed once per vector.  Referencing ``a``
    itself inside the lambdas would re-evaluate the whole upstream
    expression (for :func:`hash_embed`, its token fold) per reference,
    and the naive ``transform(a, x -> x / n)`` re-evaluates the norm
    fold per element — a dim² blow-up.  Arithmetic is unchanged: same
    x / sqrt(Σx²) divisions, same fold order, bit-identical output.
    """
    return bind1(a, lambda v: F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x * x,
        lambda ssq: F.when(F.sqrt(ssq) == 0, v.cast("array<double>")).otherwise(
            F.transform(v, lambda x: x / F.sqrt(ssq))
        ),
    ))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity (≡ dot product on normalized vectors,
    reference: tests/test_embedding.py:15-17)."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def hash_embed(col: Column, dim: int = 64) -> Column:
    """Deterministic hashing-trick embedding of text → array<double>.

    Model-free stand-in for the SentenceTransformer stage (reference:
    build_faiss.py:69-85) so pipelines are testable without model
    downloads: token t contributes ±1 to bucket xxhash64(t) % dim, then
    L2-normalize.  Pure SQL: the text is tokenized once, one
    ``transform`` maps each token to its (bucket, sign), and an
    explode-free aggregate folds those into the vector.
    """
    tokens = F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda w: F.length(w) > 0)
    pairs = F.transform(tokens, lambda t: F.struct(
        (F.abs(F.xxhash64(t)) % dim).alias("b"),
        F.when(F.xxhash64(t, F.lit(1)) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("s"),
    ))
    vec = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, p: F.transform(
            acc, lambda v, i: F.when(i.cast("long") == p["b"], v + p["s"]).otherwise(v)
        ),
    )
    return l2_normalize(vec)
