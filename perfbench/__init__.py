"""Quality-filter benchmark; run ``python3 perfbench/run.py --help``."""
