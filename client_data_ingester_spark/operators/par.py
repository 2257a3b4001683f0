"""Scan-parallelism fan-out for expression-heavy kernels.

Local parquet drops are single-row-group files, so a scan yields ONE
input split however many cores the session has — and every narrow stage
chained onto it (tokenize + explode + md5, image decode in mapInPandas,
per-row regex) runs single-task until the first exchange. ``fan_out``
spreads the relation to ``defaultParallelism`` partitions ONLY when the
source has fewer splits than cores, so the per-row kernel runs at full
width.

Scale-adaptive by construction: at any real corpus size the scan
already has >= cores splits and the branch never fires (zero added
shuffles at 100 TB — same contract as the identical branch
``operators/profile._profile_portable`` has carried since r14). Apply
it ONLY in front of kernels whose per-row cost dominates the shuffle of
their (narrow) input; a cheap explode+count gets SLOWER with an extra
exchange (measured: word count 0.38 s -> 1.27 s fanned, while the
md5-heavy CMS register fold on the same rows went 1.58 s -> 0.74 s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fan_out(df: DataFrame) -> DataFrame:
    """Spread ``df`` to ``defaultParallelism`` partitions iff the source
    currently has fewer — a no-op at scale, a 32x kernel-width fix on
    single-split local files. Row-content is untouched, so every
    deterministic operator downstream is value-identical either way.

    HASH repartition on a content-derived key, not round-robin (r17):
    every keyless ``repartition(n)`` first SORTS its input locally
    (``spark.sql.execution.sortBeforeRepartition``, on since
    SPARK-23207, so retried tasks reproduce their row-to-partition
    assignment) — measured ~0.9 s of the profile register pass's 1.1 s
    was that hidden sort of the 8-column relation. Hashing the row's
    own columns gets the same retry determinism for one cheap
    ``xxhash64`` per row, with full-domain keys so the spread stays
    uniform (guide §2.5's "derive the synthetic key deterministically"
    rule). ``xxhash64`` rejects map (and variant) values, so only the
    hashable columns feed the key; a relation with none left falls back
    to the keyless ``repartition(n)``.

    Caveat: rows with identical content hash to ONE partition, so a
    narrow projection dominated by duplicate rows stays as narrow as its
    distinct-row count — unlike round-robin, the fan-out widens by
    distinct content, not by row count."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    hashable = [f.name for f in df.schema.fields if _hashable(f.dataType)]
    if not hashable:
        return df.repartition(n)
    return df.repartition(n, F.xxhash64(*hashable))


def _hashable(dt: T.DataType) -> bool:
    """Whether ``xxhash64`` accepts a value of type ``dt``."""
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True
