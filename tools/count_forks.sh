#!/bin/sh
# Run a command with counting wrappers for chmod, ls, stat, readlink and
# bash first on PATH, and report how often each was started.
#
#   tools/count_forks.sh python3 perfbench/run.py --workload extract-longturn --seed 1 --seconds 5 --trace 0
#
# Hadoop's local filesystem starts these programs by name when `libhadoop`
# is absent (chmod on create and mkdir, ls for permissions, stat and
# readlink for link status, bash once at startup), so the counts show the
# processes a run forks for filesystem metadata. Each wrapper appends its
# name to a log and execs the real program found on the original PATH.
# The command's own output is untouched; the counts go to stderr as one
# line, and the command's exit status is kept.
set -eu

if [ $# -eq 0 ]; then
  echo "usage: $0 command [args...]" >&2
  exit 2
fi

dir=$(mktemp -d "${TMPDIR:-/tmp}/count_forks.XXXXXX")
trap 'rm -rf "$dir"' EXIT
log="$dir/started.log"
: > "$log"

names="chmod ls stat readlink bash"
for name in $names; do
  real=$(command -v "$name") || continue
  cat > "$dir/$name" <<EOF
#!/bin/sh
echo $name >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$dir/$name"
done

status=0
PATH="$dir:$PATH" "$@" || status=$?

line="forks:"
total=0
for name in $names; do
  n=$(grep -cx "$name" "$log" || true)
  total=$((total + n))
  line="$line $name=$n"
done
echo "$line total=$total" >&2
exit "$status"
