"""Resumable staged pipeline over snapshot checkpoints (BASELINE.json
north_rule: "every stage is resumable from Iceberg snapshot checkpoints
with per-partition lineage and row-count/latency metrics").

A Pipeline is an ordered list of stages; each stage reads its inputs from
catalog tables and commits its output as a new snapshot whose manifest
records {stage name, input snapshot ids, row counts per partition file,
wall clock}. `run` skips every stage whose output snapshot already
references the SAME input snapshot ids - so a killed job resumes exactly
after its last committed stage, and changing an upstream input
invalidates exactly the downstream stages.
"""

from __future__ import annotations

import time


class Stage:
    def __init__(self, name, inputs, output, build, partition_by=None,
                 mode="overwrite"):
        """build(catalog, spark, **{input_name: DataFrame}) -> DataFrame"""
        self.name = name
        self.inputs = list(inputs)
        self.output = output
        self.build = build
        self.partition_by = partition_by
        self.mode = mode


class Pipeline:
    def __init__(self, catalog, stages):
        self.catalog = catalog
        self.stages = list(stages)

    def _input_snapshot_ids(self, stage):
        return {t: self.catalog.current_snapshot(t) for t in stage.inputs}

    def _stage_done(self, stage):
        """output exists and was built from the current input snapshots."""
        man = self.catalog.head(stage.output)
        if man is None:
            return False
        lin = man.get("lineage", {})
        return (lin.get("stage") == stage.name
                and lin.get("inputs") == {
                    k: v for k, v in self._input_snapshot_ids(stage).items()})

    def run(self, force=False):
        """execute pending stages; returns [(stage, action, snapshot_id)]."""
        log = []
        for st in self.stages:
            if not force and self._stage_done(st):
                log.append((st.name, "skipped",
                            self.catalog.current_snapshot(st.output)))
                continue
            t0 = time.time()
            ins = {t: self.catalog.load(t) for t in st.inputs}
            df = st.build(self.catalog, self.catalog.spark, **ins)
            sid = self.catalog.write(
                st.output, df, mode=st.mode, partition_by=st.partition_by,
                lineage={"stage": st.name,
                         "inputs": self._input_snapshot_ids(st)},
                metrics={"stage_wall_clock_s": round(time.time() - t0, 3)})
            log.append((st.name, "ran", sid))
        return log
