"""The benchmark's traced run wraps library functions by module attribute
name (perfbench/workloads.py). Installing every workload's hooks and
restoring them must find each hooked name and put the original object
back — so deleting or renaming a hooked function fails here, in the test
suite, instead of breaking the traced benchmark. No Spark session: hooks
only look attributes up at install time."""

import os
import sys

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import workloads  # noqa: E402


def test_every_hooked_name_exists_and_is_restored(tmp_path):
    jobs = list(workloads.WORKLOADS.values()) + list(workloads.TRACED_EXTRA.values())
    assert jobs
    for job in jobs:
        hooks = workloads.Hooks(None)
        job().install(hooks, str(tmp_path / job.name))
        # an attribute hooked twice saves the first wrapper as the second
        # hook's original: the first saved object is the library's own
        originals = {}
        for module, attr, orig in hooks._saved:
            originals.setdefault((module.__name__, attr), (module, orig))
        assert originals, f"{job.name} installed no hooks"
        for (name, attr), (module, orig) in originals.items():
            assert getattr(module, attr) is not orig, f"{job.name}: {name}.{attr} not wrapped"
        hooks.restore()
        for (name, attr), (module, orig) in originals.items():
            assert getattr(module, attr) is orig, f"{job.name}: {name}.{attr} not restored"
