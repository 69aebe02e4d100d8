from pipe_s_spark.streaming.delta_apply import DeltaAppendTarget
from pipe_s_spark.streaming.merge_apply import (
    MergeApplyTarget,
    run_merge_apply_stream,
    stream_changelog_json,
)

__all__ = [
    "DeltaAppendTarget",
    "MergeApplyTarget",
    "run_merge_apply_stream",
    "stream_changelog_json",
]
