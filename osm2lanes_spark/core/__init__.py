"""Pure-Python row kernels (executed inside Arrow batches, never per-row Spark UDFs).

The reference transform is a pure function on one way's tag map
(`/root/reference/osm2lanes/src/transform/tags_to_lanes/mod.rs:121-182`).
Here it is a plain-Python kernel invoked from ``mapInArrow`` over Arrow
record batches; the batch loop lives in ``operators.lane_transform``.
"""
