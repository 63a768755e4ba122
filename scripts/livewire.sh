#!/usr/bin/env bash
# One-command live-wire CI: stand up the endpoint LiveWireSpec needs
# (Elasticsearch) in a container, run the env-gated live test, and tear it
# down.
#
# Without ES_URL, LiveWireSpec CANCELS its live test ("LIVE WIRE UNTESTED
# HERE"). Anywhere with Docker, this script turns that cancel into a real
# pass: the SAME data assertions
# ElasticShapedSpec pins offline against its stub, run against a real
# endpoint through the production ElasticShaped REST client. No es-hadoop
# jars involved.
#
# Usage: scripts/livewire.sh [--keep]
#   --keep  leave the container running after the test (for iterating)
set -euo pipefail
cd "$(dirname "$0")/.."

KEEP=${1:-}

cleanup() {
  if [[ "$KEEP" != "--keep" ]]; then
    docker rm -f graft-es >/dev/null 2>&1 || true
  fi
}
trap cleanup EXIT

echo "[livewire] starting elasticsearch (single node, no security, :9200)..."
docker run -d --name graft-es -p 9200:9200 \
  -e discovery.type=single-node -e xpack.security.enabled=false \
  -e ES_JAVA_OPTS="-Xms512m -Xmx512m" \
  docker.elastic.co/elasticsearch/elasticsearch:8.13.0 >/dev/null

echo "[livewire] waiting for the endpoint..."
ok=0
for i in $(seq 1 60); do
  curl -sf http://localhost:9200 >/dev/null 2>&1 && { ok=1; break; }
  sleep 2
done
[[ $ok -eq 1 ]] || { echo "[livewire] endpoint not healthy in time"; exit 1; }

echo "[livewire] running LiveWireSpec against the live endpoint..."
ES_URL=http://localhost:9200 \
sbt "testOnly graft.pipeline.LiveWireSpec"

echo "[livewire] done."
