import java.io.PrintWriter;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.security.MessageDigest;
import java.util.List;
import java.util.stream.Collectors;
import java.util.stream.Stream;

/** Runs `graft.Bench`, then, before the JVM exits and removes the store
  * root, writes the sha256 of every file under each `graft_stores_*`
  * directory in `java.io.tmpdir` to the file named by the first argument:
  * one `<sha256> <path relative to the store root>` line per file, sorted
  * by path. Launched by `scripts/store_ab.py --hash` in source-file mode:
  *
  *     java -cp CLASSPATH scripts/StoreHash.java OUT_FILE
  */
public class StoreHash {
  public static void main(String[] args) throws Exception {
    graft.Bench.main(new String[0]);
    Path tmp = Paths.get(System.getProperty("java.io.tmpdir"));
    try (PrintWriter out = new PrintWriter(args[0], "UTF-8");
         Stream<Path> roots = Files.list(tmp)) {
      for (Path root : roots.filter(p -> p.getFileName().toString().startsWith("graft_stores_"))
                            .collect(Collectors.toList())) {
        List<Path> files;
        try (Stream<Path> walk = Files.walk(root)) {
          files = walk.filter(Files::isRegularFile).sorted().collect(Collectors.toList());
        }
        for (Path f : files) {
          StringBuilder hex = new StringBuilder();
          for (byte b : MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f)))
            hex.append(String.format("%02x", b));
          out.println(hex + " " + root.relativize(f));
        }
      }
    }
  }
}
