"""Closed-loop benchmark of the SQLite bridge and the Spark-native query
surface. Run ``python3 perfbench/run.py --help``; see README.md."""
