from .attrs import canonical_json, merge_attrs, record_attrs_map  # noqa: F401
from .parse import parse_turns, parse_turns_pandas  # noqa: F401
