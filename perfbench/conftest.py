"""Keep the benchmark's own tests out of a repository-wide ``pytest`` run.

They start Spark several times (``test_ledger.py`` runs the benchmark six
times, about five minutes), so they are collected only when a path inside
``perfbench`` is named on the command line, e.g.
``python3 -m pytest perfbench/tests``.
"""

import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _named(config) -> bool:
    for arg in config.args:
        path = os.path.abspath(str(arg).split("::")[0])
        if path == HERE or path.startswith(HERE + os.sep):
            return True
    return False


def pytest_ignore_collect(collection_path, config):
    if not _named(config):
        return True
    return None
