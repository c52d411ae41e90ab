"""A seeded cloud estate served through the scanner's ``client_factory`` seam.

``pipeline.run_scan(client_factory=...)`` calls the factory inside Spark's
Python workers, so the factory must reach them: the workers either import
it or receive it serialized by value. They start from a fresh interpreter
whose path holds the checkout root but not ``perfbench/``, so
``audit`` registers this module with PySpark's cloudpickle
(``register_pickle_by_value``) and the class travels by value. A factory
defined in a module the workers cannot import fails in the first task
with ``ModuleNotFoundError``.

An injected factory also bypasses the scanner's per-worker operation
cache, so every cycle pays the cold-scan path a periodic scan pays.

The estate changes from cycle to cycle, the same way for a given seed:
states and ``Environment`` tags flip, and a few cells gain an item. The
table keeps its size within a few percent while every cycle writes real
updates and shows drift. ``Estate`` also computes what a scan must find,
so the benchmark can check totals, drift and compliance row counts.
"""

from __future__ import annotations

import hashlib

SERVICES = ("s3", "ec2", "lambda", "rds", "dynamodb", "iam")
#: One item in STATE_FLIP changes state each cycle; likewise for tags.
STATE_FLIP = 40
TAG_FLIP = 50
#: A cell gains one item in a cycle with probability 1/ADD_EVERY.
ADD_EVERY = 12
PAGE = 10

_ID_FIELD = {"s3": "Name", "ec2": "InstanceId", "lambda": "FunctionName",
             "rds": "DBInstanceIdentifier", "iam": "UserName"}
_KEY = {"s3": "Buckets", "ec2": "Reservations", "lambda": "Functions",
        "rds": "DBInstances", "dynamodb": "TableNames", "iam": "Users"}
_ENVS = ("Production", "Staging", "Development", "Dev")
_S3 = (
    {"Versioning": {"Status": "Enabled"},
     "ServerSideEncryptionConfiguration": {"Rules": [{
         "ApplyServerSideEncryptionByDefault": {
             "SSEAlgorithm": "aws:kms",
             "KMSMasterKeyID": "arn:aws:kms:us-east-1:123:key/trusted-key-123"}}]},
     "PublicAccessBlock": {"PublicAccessBlockConfiguration": {
         "BlockPublicAcls": True, "BlockPublicPolicy": True,
         "IgnorePublicAcls": True, "RestrictPublicBuckets": True}},
     "Policy": '{"Statement":[{"Effect":"Deny","Action":"s3:DeleteBucket"}]}',
     "LifecycleConfiguration": {"Rules": [{"Status": "Enabled"}]},
     "Logging": {"LoggingEnabled": {"TargetBucket": "audit-logs"}}},
    {"Versioning": {"Status": "Suspended"}},
    {"Versioning": {"Status": "Enabled"},
     "ServerSideEncryptionConfiguration": {"Rules": [{
         "ApplyServerSideEncryptionByDefault": {"SSEAlgorithm": "AES256"}}]}},
)


def _h(*parts) -> int:
    return int.from_bytes(hashlib.blake2b(
        "|".join(map(str, parts)).encode(), digest_size=8).digest(), "big")


def regions(seed: int, n: int) -> list[str]:
    geo = ("us-east", "us-west", "eu-west", "eu-central", "ap-south",
           "ap-northeast", "sa-east", "ca-central")
    return [f"{geo[_h(seed, 'geo', k) % len(geo)]}-{k + 1}" for k in range(n)]


class Estate:
    """The estate as of ``cycle``; calling it returns a scanner client
    for one (service, region) cell."""

    def __init__(self, seed: int, region_names: list[str], cycle: int):
        self.seed, self.regions, self.cycle = seed, list(region_names), cycle

    # -- the model ---------------------------------------------------------

    def count(self, service: str, region: str, cycle: int | None = None) -> int:
        cycle = self.cycle if cycle is None else cycle
        added = sum(_h(self.seed, "add", service, region, c) % ADD_EVERY == 0
                    for c in range(1, cycle + 1))
        return 20 + _h(self.seed, "size", service, region) % 11 + added

    def _flips(self, kind: str, every: int, service: str, region: str,
               i: int, cycle: int) -> int:
        return sum(_h(self.seed, kind, service, region, i, c) % every == 0
                   for c in range(1, cycle + 1))

    def state(self, service: str, region: str, i: int, cycle: int) -> str:
        up = (_h(self.seed, "state0", service, region, i) % 10 != 0) ^ (
            self._flips("state", STATE_FLIP, service, region, i, cycle) % 2 == 1)
        if service == "ec2":
            return "running" if up else "stopped"
        return "available" if up else "unavailable"

    def env(self, service: str, region: str, i: int, cycle: int) -> str:
        k = _h(self.seed, "env0", service, region, i) + self._flips(
            "env", TAG_FLIP, service, region, i, cycle)
        return _ENVS[k % len(_ENVS)]

    def item(self, service: str, region: str, i: int) -> dict | str:
        name = f"{service}-{region}-{i:04d}"
        if service == "dynamodb":  # list_tables returns bare names
            return name
        digest = hashlib.sha256(name.encode()).hexdigest()[:12]
        state = self.state(service, region, i, self.cycle)
        item = {
            _ID_FIELD[service]: name,
            "Arn": f"arn:aws:{service}:{region}:111111111111:{name}",
            "Tags": [{"Key": "Environment",
                      "Value": self.env(service, region, i, self.cycle)},
                     {"Key": "Team", "Value": f"team-{_h(name) % 4}"}],
            "State": {"Name": state} if service == "ec2" else state,
        }
        if service == "s3":
            item.update(_S3[_h(self.seed, "arch", name) % 3])
        elif service == "ec2":
            item.update({"VpcId": f"vpc-{digest[:8]}",
                         "SubnetId": f"subnet-{digest[:8]}",
                         "SecurityGroupIds": [f"sg-{digest[:8]}"]})
        elif service == "lambda":
            item["VpcConfig"] = {"SubnetIds": [f"subnet-{digest[:8]}"]}
        elif service == "rds":
            item["KmsKeyId"] = (f"arn:aws:kms:{region}:111111111111:"
                                f"key/{digest}")
        return item

    # -- what a scan of this cycle must find --------------------------------

    def total(self, services=SERVICES) -> int:
        return sum(self.count(s, r) for s in services for r in self.regions)

    def drift_rows(self) -> int:
        """Rows ``changes.detect_drift`` reports between the previous
        cycle's baseline and this cycle: one NEW per added item, one
        STATE_CHANGE per state flip, one TAG_CHANGE per Environment flip.
        Bare-name items (dynamodb) carry no state or tags."""
        c = self.cycle
        rows = 0
        for s in SERVICES:
            for r in self.regions:
                before = self.count(s, r, c - 1)
                rows += self.count(s, r, c) - before
                if s == "dynamodb":
                    continue
                for i in range(before):
                    rows += self.state(s, r, i, c) != self.state(s, r, i, c - 1)
                    rows += self.env(s, r, i, c) != self.env(s, r, i, c - 1)
        return rows

    # -- the scanner seam --------------------------------------------------

    def __call__(self, service: str, region: str) -> "_Client":
        return _Client(self, service, region)


class _Client:
    def __init__(self, estate: Estate, service: str, region: str):
        self.estate, self.service, self.region = estate, service, region

    def get_paginator(self, op_name: str) -> "_Client":
        return self

    def paginate(self):
        n = self.estate.count(self.service, self.region)
        for start in range(0, n, PAGE):
            yield {_KEY[self.service]: [
                self.estate.item(self.service, self.region, i)
                for i in range(start, min(start + PAGE, n))]}
