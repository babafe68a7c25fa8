"""Part files of ``(doc_id, lang, text)`` rows: the one sink and reader
behind the stdlib codecs (``avro.py``, ``protowire.py``, ``warc.py``,
``arrowipc.py``). A codec module supplies only what is specific to its
format — the file encoder and decoder, its split rule and how the
driver plans splits — and binds it here with a file suffix.

Sink: one ``mapInPandas`` task per partition writes its rows to a
hidden task-unique temp file, then one ``os.replace`` publishes it as
``part-{id:05d}{suffix}`` — Hive's task-commit rule (Thusoo et al.,
ICDE 2010). The name is deterministic per partition, so a retried or
speculative task overwrites its own partition's file instead of adding
a second decodable one that would double-count on read; a temp file
stranded by a crashed attempt starts with ``.`` and does not end in
the suffix, so no reader glob sees it.

Readers: the whole-file path lists the part files through Spark's
``binaryFile`` source and decodes each file's bytes in an Arrow batch;
the split path takes the split list the driver planned (byte ranges,
footer blocks), spreads it over at most ``shuffle.partitions`` tasks,
and decodes each split where it lies.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

DOC_SCHEMA = "doc_id long, lang string, text string"
_BIN_SCHEMA = "path string, modificationTime timestamp, length long, content binary"

Doc = tuple[int, str, str]


def part_name(part_id: int, suffix: str) -> str:
    """The published name of a partition's part file."""
    return f"part-{part_id:05d}{suffix}"


def write_parts(
    df: DataFrame,
    out_dir: str,
    suffix: str,
    write: Callable[[str, list[Doc], int], object],
) -> int:
    """Write ``df``'s rows as one part file per partition:
    ``write(tmp_path, rows, part_id)`` encodes the rows into the temp
    file, which is then renamed to ``part_name(part_id, suffix)``.
    Returns the number of rows written."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches):
        import uuid

        from pyspark import TaskContext

        rows: list[Doc] = []
        for pdf in batches:
            rows += list(zip(pdf["doc_id"].astype(int), pdf["lang"], pdf["text"]))
        part_id = TaskContext.get().partitionId()
        name = part_name(part_id, suffix)
        tmp = os.path.join(out_dir, f".part-{part_id:05d}-{uuid.uuid4().hex[:8]}.tmp")
        write(tmp, rows, part_id)
        os.replace(tmp, os.path.join(out_dir, name))
        yield pd.DataFrame({"file": [name], "n": [len(rows)]})

    parts = df.select("doc_id", "lang", "text").mapInPandas(
        write_part, schema="file string, n long"
    )
    return sum(r["n"] for r in parts.collect())


def _doc_frame(rows: list[Doc]):
    import pandas as pd

    return pd.DataFrame(rows, columns=["doc_id", "lang", "text"])


def _decode_files(files: DataFrame, decode: Callable[[bytes], Iterable[Doc]]) -> DataFrame:
    def run(batches):
        for pdf in batches:
            yield _doc_frame([doc for content in pdf["content"] for doc in decode(bytes(content))])

    return files.select("content").mapInPandas(run, DOC_SCHEMA)


def read_parts(
    spark: SparkSession, in_dir: str, suffix: str, decode: Callable[[bytes], Iterable[Doc]]
) -> DataFrame:
    """Every ``*{suffix}`` file of ``in_dir``, each decoded whole by
    ``decode(content)``."""
    files = spark.read.format("binaryFile").load(os.path.join(in_dir, "*" + suffix))
    return _decode_files(files, decode)


def stream_parts(
    spark: SparkSession, in_dir: str, suffix: str, decode: Callable[[bytes], Iterable[Doc]]
) -> DataFrame:
    """``read_parts`` as a file stream: each ``*{suffix}`` file that
    lands in ``in_dir`` is decoded once (the file-source log is the
    ledger)."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BIN_SCHEMA)
        .load(os.path.join(in_dir, "*" + suffix))
    )
    return _decode_files(files, decode)


def byte_ranges(in_dir: str, suffix: str, split_bytes: int) -> list[tuple[str, int, int]]:
    """``(path, start, end)`` splits cutting every ``*{suffix}`` file
    of ``in_dir`` every ``split_bytes`` bytes (driver-side listing, no
    data reads); an empty file still gets one split."""
    splits = []
    for path in sorted(glob.glob(os.path.join(in_dir, "*" + suffix))):
        size = os.path.getsize(path)
        for off in range(0, max(size, 1), split_bytes):
            splits.append((path, off, min(off + split_bytes, size)))
    return splits


def read_splits(
    spark: SparkSession,
    splits: list[tuple],
    decode_split: Callable[..., Iterable[Doc]],
) -> DataFrame:
    """Rows of driver-planned splits ``(path, *ints)``, each decoded by
    ``decode_split(path, *ints)`` in the task it lands in; the splits
    are spread over ``min(len(splits), shuffle.partitions)`` tasks."""
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sdf = spark.createDataFrame(
        [(s[0], [int(v) for v in s[1:]]) for s in splits], "path string, span array<long>"
    )

    def run(batches):
        for pdf in batches:
            yield _doc_frame(
                [
                    doc
                    for path, span in zip(pdf["path"], pdf["span"])
                    for doc in decode_split(path, *(int(v) for v in span))
                ]
            )

    return sdf.repartition(min(len(splits), nshuf) or 1).mapInPandas(run, DOC_SCHEMA)
