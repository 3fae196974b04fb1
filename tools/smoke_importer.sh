#!/usr/bin/env bash
# CI-shaped importer smoke: pin the README quickstart as a repeatable
# check instead of a by-hand claim. Builds the thin
# jar, zips the TestFeed fixture (single source of truth — dumped via
# Test/runMain, never duplicated here), then drives `bin/graft-importer`
# end-to-end TWICE against the same file:// zip and asserts:
#   run 1: a real import — "importSkipped": false, a newDb is named,
#          the DSN file points at it (K4), and the import's clean-log.txt
#          records cleaning on with all 14 gtfsclean stages on (C18)
#   run 2: the P5 digest short-circuit — "importSkipped": true, no new db
# Fully offline (file:// URL; sbt resolves from the warm local cache).
#
# Usage: tools/smoke_importer.sh            (from the repo root)
set -euo pipefail

here="$(cd "$(dirname "$0")/.." && pwd)"
cd "$here"

work="$(mktemp -d /tmp/graft-smoke.XXXXXX)"
trap 'rm -rf "$work"' EXIT
feed_dir="$work/feed"
zip_path="$work/feed.zip"
store="$work/store"
mkdir -p "$feed_dir" "$store"

echo "[smoke] building thin jar + dumping the TestFeed fixture"
sbt -batch package "Test/runMain graft.gtfs.TestFeedMain $feed_dir" >"$work/sbt.log" 2>&1 || {
  tail -30 "$work/sbt.log" >&2; echo "[smoke] sbt failed" >&2; exit 1; }
# jar -cfM: deterministic-enough zip (same content → same feed digest
# is guaranteed by Digests hashing file CONTENT, not zip bytes)
jar -cfM "$zip_path" -C "$feed_dir" .

run_import() {
  GTFS_DOWNLOAD_USER_AGENT="smoke@graft.invalid" \
  GTFS_DOWNLOAD_URL="file://$zip_path" \
  GTFS_IMPORTER_DB_PREFIX=gtfs \
  GTFS_STORE_ROOT="$store" \
  GTFS_TMP_DIR="$work/tmp" \
  GTFS_IMPORTER_DSN_FILE="$work/dsn.txt" \
  bin/graft-importer 2>"$work/run$1.err" | tee "$work/run$1.out"
}

echo "[smoke] run 1 (expect a real import)"
out1="$(run_import 1 | grep -F '"importSkipped"')"
grep -qF '"importSkipped": false' <<<"$out1" || {
  echo "[smoke] FAIL: run 1 did not import: $out1" >&2; exit 1; }
grep -qE '"newDb": "gtfs_[a-z0-9_]+"' <<<"$out1" || {
  echo "[smoke] FAIL: run 1 named no newDb: $out1" >&2; exit 1; }
db="$(sed -E 's/.*"newDb": "([^"]+)".*/\1/' <<<"$out1")"
grep -qF "$db" "$work/dsn.txt" || {
  echo "[smoke] FAIL: DSN file does not point at $db" >&2; exit 1; }
log="$store/dbs/$db/clean-log.txt"
[[ -f "$log" ]] || { echo "[smoke] FAIL: no clean log at $log" >&2; exit 1; }
grep -qxF $'cleaning_enabled\ttrue' "$log" || {
  echo "[smoke] FAIL: clean log does not say cleaning_enabled true" >&2; exit 1; }
stages_on="$(grep -cE $'^stage\t[a-z-]+\ton$' "$log" || true)"
[[ "$stages_on" == 14 ]] || {
  echo "[smoke] FAIL: clean log has $stages_on stage lines on, expected 14" >&2; exit 1; }

echo "[smoke] run 2 (expect the P5 digest short-circuit)"
out2="$(run_import 2 | grep -F '"importSkipped"')"
grep -qF '"importSkipped": true' <<<"$out2" || {
  echo "[smoke] FAIL: run 2 did not skip: $out2" >&2; exit 1; }
grep -qF '"newDb": null' <<<"$out2" || {
  echo "[smoke] FAIL: run 2 created a db: $out2" >&2; exit 1; }

echo "[smoke] PASS: run1 imported $db (14 cleaning stages on), run2 skipped (importSkipped=true)"
