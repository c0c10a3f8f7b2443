"""The LLM abstract-understanding map (reference U1,
``src/api/llm_api.py:105-268`` + invocation ``main.py:308-350``).

Spark-first design (fixes reference J2, the positional re-alignment at
``main.py:331-335``):

- One pass-through ``mapInArrow``: each Arrow batch keeps its input
  columns untouched and gains the N template fields, so an answer travels
  in the row it was asked for, never by position and never by a join.
- One call per distinct key: rows are hash-partitioned and sorted by the
  key, so duplicates sit next to each other and the map reuses the
  previous key's answer.
- One client per partition, bounded in-partition thread fan-out
  (``max_workers``, reference default 4 — config.yaml:78) — partition-level
  parallelism × in-partition concurrency replaces the reference's single
  ThreadPool.
- Retries/backoff live INSIDE the client (Spark task retries would re-call
  the LLM for a whole partition — SURVEY §4).
- The answers are materialized once: the result is a lazy local
  checkpoint, so every sink reads the same answers and the plan above the
  map runs once, however many actions follow.
- The mock client makes the operator deterministic for tests/oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from scholarmind_spark.llm.parse import parse_llm_response
from scholarmind_spark.llm.templates import PromptTemplate
from scholarmind_spark.util import lazy_checkpoint

ChatClient = Callable[[list[dict[str, str]]], str]


def llm_extract(
    df: DataFrame,
    template: PromptTemplate,
    client: ChatClient,
    key_col: str = "record_id",
    text_col: str = "abstract",
    max_workers: int = 4,
) -> DataFrame:
    """df + N template-defined string columns, one row per input row.

    The client is called once per distinct non-null ``key_col``: byte-
    identical records share a content-addressed record_id by design
    (sources/base.stable_record_id), and all of them get the first one's
    answer.  A row with a null key shares with no other row and gets its
    own answer.  Rows with null ``text_col`` get pure defaults without an
    LLM call (the reference iterates only extracted abstracts,
    main.py:313-315).

    The result is a :func:`scholarmind_spark.util.lazy_checkpoint`: the
    first action runs the map, later actions read its blocks, and
    ``release_caches`` on the result frees them.
    """
    fields = template.fields
    out_schema = StructType(df.schema.fields + template.output_schema().fields)

    def one(abstract) -> dict[str, str]:
        if abstract is None:
            return {f: template.default_for(f) for f in fields}
        return parse_llm_response(client(template.messages(str(abstract))), template)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from concurrent.futures import ThreadPoolExecutor

        # the previous row's key and answer, carried across batches
        prev_key, prev = None, None
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            for batch in batches:
                keys = batch.column(key_col).to_pylist()
                texts = batch.column(text_col).to_pylist()
                firsts = []
                for i, k in enumerate(keys):
                    if k is None or k != prev_key:
                        firsts.append(i)
                    prev_key = k
                answers = dict(zip(firsts, pool.map(one, [texts[i] for i in firsts])))
                rows = []
                for i in range(len(keys)):
                    prev = answers.get(i, prev)
                    rows.append(prev)
                extra = [pa.array([r[f] for r in rows], pa.string()) for f in fields]
                yield pa.RecordBatch.from_arrays(
                    [*batch.columns, *extra], names=[*batch.schema.names, *fields]
                )

    return lazy_checkpoint(
        df.repartition(key_col).sortWithinPartitions(key_col).mapInArrow(run, out_schema)
    )
