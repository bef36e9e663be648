from xenoeye_spark.enrich.iplist import IpList
from xenoeye_spark.enrich.geoip import GeoDB

__all__ = ["IpList", "GeoDB"]
