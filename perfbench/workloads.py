"""The benchmark's workloads, by name. Each module provides TAIL_PCT and
n_ops(seconds, tiny), and the steps run.execute calls in order: prepare
(repeated for setup_s), start, warmup, then op and after_op per measured
op, check, stop."""

import analyst
import replay

WORKLOADS = {
    "redset_replay": replay,
    "analyst_queries": analyst,
}
