from .manifest import load_manifest, save_manifest  # noqa: F401
from .pipeline import build_routed, run_pipeline  # noqa: F401
