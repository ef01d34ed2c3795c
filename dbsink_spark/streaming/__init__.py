from .pipeline import listen_transform, run_stream
from .rollup import RollupMaintainer

__all__ = [
    "run_stream",
    "listen_transform",
    "RollupMaintainer",
]
