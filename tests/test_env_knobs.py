"""The package reads only deployment and spec settings from the
environment: a behaviour switch belongs in code, not in a variable
that nothing sets."""

import ast
import pathlib

import batch_processing_system_spark as pkg

ALLOWED = {
    "SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_DRIVER_MEMORY",
    "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_LAYOUT_GC",
    "STATUS_FIELD_NAME", "STATUS_VALUES", "BATCH_API_KEY",
}


def test_no_env_knob_outside_the_deployment_settings():
    """Every literal name read by ``*.environ.get``, ``getenv`` or
    ``env_flag`` anywhere in the package is on the list."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call) or not node.args:
                continue
            f, arg = node.func, node.args[0]
            name = getattr(f, "attr", getattr(f, "id", None))
            environ_get = name == "get" and getattr(f.value, "attr", None) == "environ"
            reads_env = environ_get or name in ("getenv", "env_flag")
            if reads_env and isinstance(arg, ast.Constant) and arg.value not in ALLOWED:
                offenders.append(f"{path.relative_to(root)}:{node.lineno} {arg.value}")
    assert not offenders, "environment knobs outside the allowed settings: " + ", ".join(
        offenders
    )
