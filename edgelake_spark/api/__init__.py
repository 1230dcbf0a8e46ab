"""External façades: REST server and Grafana JSON-datasource bridge.

Reference entry points (SURVEY §3.2/§3.3):
- REST GET with ``command: sql <dbms> ...`` header + ``User-Agent:
  AnyLog/1.23`` → query; PUT with dbms/table headers → ingest
  (edge_lake/tcpip/http_server.py:931-1010, 1844-1930).
- Grafana JSON datasource: panel payload → increments/period dialect
  SQL (edge_lake/api/al_grafana.py:60-180, 2115-2125).
"""

from edgelake_spark.api.rest import EdgeLakeRestServer

__all__ = ["EdgeLakeRestServer"]
