from .pipeline import build_routed, run_pipeline  # noqa: F401
