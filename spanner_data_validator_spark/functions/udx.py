"""User-defined table function (UDTF) and Arrow batch surface.

The reference's only UDF surface is the custom-transformation JAR (SURVEY
§2 P6 / §2.10); Spark adds two more extension points this module covers
with honest, Arrow-era implementations:

* ``CharChunks`` — a Python UDTF (one input row → N output rows) emitting
  fixed-width character chunks with exact integer geometry.
* ``arrow_substr_stats`` — a ``mapInArrow`` batch function whose kernels run
  in Arrow's C++ compute layer.

The UDTF is THE SLOW PATH by design — per-row Python. It exists to cover
the extension surface; hot paths use the pure-codegen equivalent
(``packing.chunk_tokens``).
"""

from __future__ import annotations

from pyspark.sql import functions as F


class CharChunks:
    """UDTF: split ``text`` into fixed-``width`` character chunks, emitting
    (chunk_idx, chunk_len). Register and use laterally::

        spark.udtf.register("char_chunks", char_chunks_udtf())
        spark.sql("SELECT d.lang, c.* FROM docs d, "
                  "LATERAL char_chunks(d.text, 40) c")

    Empty/NULL text emits no rows. Geometry is exact integers:
    sum(chunk_len) = length(text), count = ceil(length/width).
    """

    def eval(self, text, width: int):  # noqa: ANN001 — UDTF protocol
        if text is None or width is None or width <= 0:
            return
        n = len(text)
        idx = 0
        for start in range(0, n, width):
            yield idx, min(width, n - start)
            idx += 1


def char_chunks_udtf():
    """The CharChunks class wrapped as a Spark UDTF (deferred so importing
    this module never requires an active session)."""
    return F.udtf(CharChunks, returnType="chunk_idx int, chunk_len int")


def arrow_substr_stats(df, key_col: str, text_col: str, needle: str):
    """Arrow-native per-row text stats via ``mapInArrow`` — the second UDX
    surface next to the UDTF above: batches stay
    pyarrow RecordBatches end to end (no pandas materialization, no per-row
    Python), and the kernel work (`count_substring`, `utf8_length`) runs in
    Arrow's C++ compute layer. This is the seam for vectorized logic the
    SQL expression language can't reach but pandas would slow down —
    at 100 TB it rides the scan stage, zero exchanges.

    Output: (key_col, hits, chars) — non-overlapping ``needle`` occurrence
    count and character length, NULL text propagating NULLs.
    """
    import pyarrow as pa

    out_schema = f"{key_col} long, hits long, chars long"

    def fn(batches):
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(key_col),
                 pc.cast(pc.count_substring(b.column(text_col), needle),
                         pa.int64()),
                 pc.cast(pc.utf8_length(b.column(text_col)), pa.int64())],
                names=[key_col, "hits", "chars"])

    return df.select(key_col, text_col).mapInArrow(fn, out_schema)
