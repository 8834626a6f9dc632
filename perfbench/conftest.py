"""Puts the benchmark's modules and the library on the import path, as
``run.py`` does when started as a script."""

import pathlib
import sys

_HERE = pathlib.Path(__file__).resolve().parent
for _p in (_HERE, _HERE.parent):
    if str(_p) not in sys.path:
        sys.path.insert(0, str(_p))
