from .pyds import (  # noqa: F401
    RequestJsonlDataSource,
    register_request_jsonl,
)
from .readers import (  # noqa: F401
    load_testdata,
    local_frame,
    read_descriptions_csv,
    read_descriptions_dir,
    read_request_jsonl,
    read_response_jsonl,
    scan_ts_pruned,
    ts_nanos,
)
