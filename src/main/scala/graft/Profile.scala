package graft

/**
 * Single entry point for the measurement harnesses that regenerate a
 * claim SCALE.md, PLANS.md or a code comment still makes. Usage:
 *
 *   sbt "runMain graft.Profile <name> [args...]"
 *   sbt "runMain graft.Profile list"
 *
 * A harness stays registered while a doc cites it; one no doc cites is
 * deleted, and a comment that keeps quoting its figures names the last
 * commit that had it. `graft.Explain` stays a separate entry point for
 * plan-posture review, and Smoke/Verify/Bench/ToolsCli are driver
 * contract, not profiling; per-query job profiles come from a filtered
 * `graft.Bench` run. Every harness, like every one of those mains,
 * builds its session with [[SessionDefaults.session]] (graft
 * extensions, no UI, UTC, the engine confs) at its own core count and
 * shuffle partitions; the driver heap is the forked JVM's `-Xmx`
 * (`SPARK_DRIVER_MEM` in build.sbt), which no session conf can change.
 */
object Profile {
  private val registry: Map[String, (Array[String] => Unit, String)] = Map(
    "scale" -> (ProfileScale.run _, "synthesize /tmp sf1 (10x) and time queries at sf0.1 vs sf1 (SCALE.md)"),
    "scale100" -> (ProfileScale100.run _, "synthesize /tmp sf10 (100x) and probe the simhash/ann escape hatches (args: census simhash ann)"),
    "r11" -> (ProfileR11.run _, "IVF candidate recall operating points (also: r11 planted | r11 clustered)"),
    "oracle-six" -> (ProfileOracleSix.run _, "sketch-cut margin for the 0.45 semantic threshold"),
    "simhash-cap" -> (ProfileSimhashCap.run _, "simhash hot-block cap study"),
    "listing" -> (ProfileListing.run _, "partition-listing wall at >=10^4 dirs: driver loop vs distributed (args: nDirs nFiles)"),
    "bpe8k" -> (ProfileBpe8k.run _, "tokenizer-scale BPE: learn+encode at >=8k rules, native-vs-fold parity (args: numMerges)"),
    "manifest" -> (ProfileStatsManifest.run _, "stats-manifest skipping at 2048 files: build/prune/refresh walls, bloom point lookup at 256 files"),
    "txtable" -> (ProfileTxTable.run _, "transactional MOR merge vs copy-on-write at 100x: upsert/read/checkpoint walls + write volumes"),
    "txtable17" -> (ProfileTxTable17.run _, "round-17 TxTable: upsert broadcast vs shuffled fallback (CDC + backfill), compactFiles vs checkpoint on a skewed delete, changeFeed"),
    "txtable18" -> (ProfileTxTable18.run _, "round-18 TxTable: conflictDetect overhead, partition-pruned vs full reads at 25 dirs, state-sync initial vs delta chunk"),
    "feedwidth" -> (ProfileFeedWidth.run _, "changeFeed construction/execution walls vs commit-log length (args: nCommits)"),
    "streamrep" -> (ProfileStreamRep.run _, "round-19 streaming relay at 15 M rows: bootstrap vs incremental vs idle drain through the format(\"txtable\") source+sink"))

  def main(args: Array[String]): Unit = args.toList match {
    case name :: rest if registry.contains(name) => registry(name)._1(rest.toArray)
    case other =>
      if (other.headOption.exists(_ != "list"))
        System.err.println(s"unknown harness: ${other.head}")
      System.err.println("usage: runMain graft.Profile <name> [args...]")
      registry.toSeq.sortBy(_._1).foreach { case (n, (_, d)) =>
        System.err.println(f"  $n%-15s $d")
      }
      if (other.headOption.exists(_ != "list")) sys.exit(2)
  }
}
