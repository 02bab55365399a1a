"""Start the basenine daemon through its CLI entry
``basenine_spark.__main__.main``, optionally with the layer tracer
installed first:

    python3 wirebench/daemon.py [--trace-out FILE] -- <daemon flags>
"""

import os
import sys

# the checkout root, not this directory, so the daemon imports nothing
# of the benchmark's but the tracer
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def launch(argv: list[str]) -> int:
    trace_out = None
    if argv[:1] == ["--trace-out"]:
        trace_out, argv = argv[1], argv[2:]
    if argv[:1] == ["--"]:
        argv = argv[1:]
    if trace_out:
        from wirebench import spans

        spans.install(trace_out)
    from basenine_spark.__main__ import main

    return main(argv)


if __name__ == "__main__":
    raise SystemExit(launch(sys.argv[1:]))
