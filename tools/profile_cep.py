#!/usr/bin/env python
"""Profile x_cep_stream's 100x replay wall (r11 VERDICT task 3): split the
drain time into (a) the engine floor — groupBy shuffle + per-key Python
invocation + Arrow framing with NO state ops and NO matcher, (b) floor +
state write, (c) the full machine. The deltas attribute the wall between
state-store encode/decode and the (already vectorized) matcher.

Usage: python tools/profile_cep.py [sf_dir=/tmp/frde_sf10]
"""

from __future__ import annotations

import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

import pandas as pd  # noqa: E402

from pyspark.sql import types as T  # noqa: E402
from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: E402


def _machines():
    from flink_realtime_data_eng_spark.streaming import stateful

    depth = 2
    out_schema = T.StructType(
        [T.StructField("user_id", T.LongType()),
         T.StructField("start_ts_ms", T.LongType()),
         T.StructField("end_ts_ms", T.LongType()),
         T.StructField("start_event_id", T.LongType())])
    fields = []
    for i in range(depth):
        fields += [T.StructField(f"t{i}", T.StringType()),
                   T.StructField(f"s{i}", T.LongType()),
                   T.StructField(f"i{i}", T.LongType())]
    state_schema = T.StructType(fields)
    empty = pd.DataFrame({"user_id": pd.Series(dtype="int64"),
                          "start_ts_ms": pd.Series(dtype="int64"),
                          "end_ts_ms": pd.Series(dtype="int64"),
                          "start_event_id": pd.Series(dtype="int64")})

    def floor_fn(key, pdfs, state):
        for pdf in pdfs:  # consume the Arrow chunks, do nothing
            len(pdf)
        yield empty

    def state_fn(key, pdfs, state):
        if state.exists:
            state.get
        for pdf in pdfs:
            len(pdf)
        state.update(("a", 1, 1, "b", 2, 2))
        yield empty

    def floor(df):
        return df.groupBy("user_id").applyInPandasWithState(
            floor_fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)

    def state_write(df):
        return df.groupBy("user_id").applyInPandasWithState(
            state_fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)

    def full(df):
        return stateful.sequence_match_stream(
            df, ["view", "click", "purchase"], within_ms=86_400_000,
            key="user_id", ts_ms="ts_ms", type_col="event_type",
            id_col="event_id")

    return [("floor(no state, no matcher)", floor),
            ("floor+state write", state_write),
            ("full machine", full)]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/frde_sf10"
    from flink_realtime_data_eng_spark.registry_ops import (
        _EVENTS_CSV_SCHEMA, _events_csv_dir, _run_to_memory)
    from flink_realtime_data_eng_spark.session import get_spark
    from flink_realtime_data_eng_spark.sources import file_csv_stream

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("profile_cep", shuffle_partitions=int(cpus),
                      extra_conf={"spark.driver.memory": "48g"})
    spark.sparkContext.setLogLevel("ERROR")
    path = _events_csv_dir(spark, sf_dir)

    for label, mk in _machines():
        best = None
        for _ in range(2):  # warm + timed, like scale_dryrun
            ev = file_csv_stream(spark, path, _EVENTS_CSV_SCHEMA,
                                 quoted=False)
            t0 = time.monotonic()
            _run_to_memory(mk(ev), spark).write.format("noop") \
                .mode("overwrite").save()
            best = round(time.monotonic() - t0, 2)
        print(f"{label}: {best} s", flush=True)


if __name__ == "__main__":
    main()
